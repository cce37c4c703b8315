"""PREPARE/EXECUTE/DEALLOCATE and SHOW STATS (reference SURVEY §3.4:
QueryPreparer.java, ParameterRewriter.java, ShowStatsRewrite.java)."""

from __future__ import annotations

import duckdb
import pytest

from sensql_presto_spark.statements import (
    StatementSession,
    split_top_level,
    substitute_parameters,
)

SF = "/root/testdata/sf0.001"


def _sess(spark):
    return StatementSession(spark, SF)


def test_substitute_parameters_basic():
    assert (
        substitute_parameters("SELECT * FROM t WHERE a = ? AND b < ?", ["1", "'x'"])
        == "SELECT * FROM t WHERE a = (1) AND b < ('x')"
    )


def test_substitute_parameters_ignores_question_mark_in_string():
    out = substitute_parameters("SELECT 'what?' AS q, ? AS p", ["42"])
    assert out == "SELECT 'what?' AS q, (42) AS p"


def test_substitute_parameters_count_mismatch():
    with pytest.raises(ValueError):
        substitute_parameters("SELECT ?", [])
    with pytest.raises(ValueError):
        substitute_parameters("SELECT ?", ["1", "2"])


def test_split_top_level_respects_nesting():
    assert split_top_level("1, 'a,b', f(2, 3)") == ["1", "'a,b'", "f(2, 3)"]


def test_prepare_execute_deallocate_lifecycle(spark):
    sess = StatementSession(spark, SF)
    assert sess.execute(
        "PREPARE p1 FROM SELECT count(*) AS n FROM nation WHERE n_regionkey = ?"
    ).collect()[0].result == "PREPARE"

    rows = sess.execute("EXECUTE p1 USING 0").collect()
    assert rows[0].n == 5

    # re-execution with a different binding replans with the new literal
    assert sess.execute("EXECUTE p1 USING 99").collect()[0].n == 0

    assert sess.execute("DEALLOCATE PREPARE p1").collect()[0].result == "DEALLOCATE"
    with pytest.raises(ValueError, match="not found"):
        sess.execute("EXECUTE p1 USING 0")


def test_execute_unknown_statement_raises(spark):
    sess = StatementSession(spark, SF)
    with pytest.raises(ValueError, match="not found"):
        sess.execute("EXECUTE nope")


def test_show_stats_matches_duckdb(spark):
    sess = StatementSession(spark, SF)
    got = {r.column_name: r for r in sess.execute("SHOW STATS FOR nation").collect()}

    con = duckdb.connect()
    exp = con.sql(
        f"""SELECT count(*) AS rc, count(DISTINCT n_nationkey) AS ndv,
                   min(n_nationkey) AS lo, max(n_nationkey) AS hi
            FROM read_parquet('{SF}/nation.parquet')"""
    ).fetchone()
    con.close()
    rc, ndv, lo, hi = exp

    summary = got[None]
    assert summary.row_count == float(rc)
    col = got["n_nationkey"]
    assert col.nulls_fraction == 0.0
    assert col.low_value == str(lo) and col.high_value == str(hi)
    # approx_count_distinct is within a few % at this cardinality
    assert abs(col.distinct_values_count - ndv) / ndv < 0.05
    assert col.row_count is None


def test_show_stats_for_query(spark):
    sess = StatementSession(spark, SF)
    rows = sess.execute(
        "SHOW STATS FOR (SELECT n_regionkey FROM nation WHERE n_nationkey < 10)"
    ).collect()
    summary = [r for r in rows if r.column_name is None][0]
    assert summary.row_count == 10.0


def test_prepared_statement_via_server():
    """Prepared statements survive across protocol requests (shared session)."""
    from sensql_presto_spark.server import SqlServer
    from sensql_presto_spark.session import get_spark
    import json
    import urllib.request

    spark = get_spark()
    srv = SqlServer(spark, SF).start()
    try:
        base = f"http://127.0.0.1:{srv.port}"

        def post(sql: str):
            req = urllib.request.Request(f"{base}/v1/statement", data=sql.encode())
            doc = json.loads(urllib.request.urlopen(req).read())
            while "nextUri" in doc:
                doc = json.loads(urllib.request.urlopen(doc["nextUri"]).read())
            return doc

        post("PREPARE srv_p FROM SELECT r_name FROM region WHERE r_regionkey = ?")
        doc = post("EXECUTE srv_p USING 2")
        assert doc["data"] == [["ASIA"]]
    finally:
        srv.stop()


def test_set_session_join_distribution_affects_plan(spark):
    """SET SESSION join_distribution_type = 'PARTITIONED' must stop
    broadcast planning (DetermineJoinDistributionType.java analog)."""
    sess = _sess(spark)
    try:
        sess.execute("SET SESSION join_distribution_type = 'PARTITIONED'")
        plan = (
            sess.execute(
                "SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"
            )
            ._jdf.queryExecution()
            .sparkPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan
    finally:
        sess.execute("RESET SESSION join_distribution_type")
    plan = (
        sess.execute(
            "SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"
        )
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_set_session_hash_partition_count(spark):
    sess = _sess(spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sess.execute("SET SESSION hash_partition_count = 7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        sess.execute("RESET SESSION hash_partition_count")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_show_session_lists_properties(spark):
    rows = {r.name: r for r in _sess(spark).execute("SHOW SESSION").collect()}
    assert "join_distribution_type" in rows
    assert rows["hash_partition_count"].spark_conf == "spark.sql.shuffle.partitions"


def test_set_unknown_session_property_raises(spark):
    with pytest.raises(ValueError, match="does not exist"):
        _sess(spark).execute("SET SESSION no_such_property = 1")


def test_explain_type_io_reports_scans_and_pushdown(spark):
    rows = _sess(spark).execute(
        "EXPLAIN (TYPE IO) SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert "orders.parquet" in r.location
    assert "o_orderkey" in r.read_schema
    assert "o_totalprice" in r.pushed_filters and "GreaterThan" in r.pushed_filters


# --- property tests (hypothesis) -----------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_idents = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
_values = st.one_of(
    st.integers(-10**6, 10**6).map(str),
    st.text(alphabet="xyz ,()?'", min_size=0, max_size=8).map(
        lambda s: "'" + s.replace("'", "''") + "'"
    ),
)


@given(st.lists(_values, min_size=0, max_size=6))
@settings(max_examples=200, deadline=None)
def test_substitution_consumes_every_marker(params):
    sql = "SELECT " + ", ".join(["?"] * len(params)) if params else "SELECT 1"
    out = substitute_parameters(sql, params)
    # every placeholder consumed, each param inserted in order
    assert "?" not in _strip_strings(out)
    for p in params:
        assert f"({p})" in out


def _strip_strings(sql: str) -> str:
    out, in_str = [], False
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        else:
            out.append(ch)
        i += 1
    return "".join(out)


@given(st.lists(_values, min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_split_top_level_roundtrips_param_lists(params):
    joined = ", ".join(params)
    assert split_top_level(joined) == [p.strip() for p in params]


def test_explain_type_validate(spark):
    sess = _sess(spark)
    assert sess.execute("EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation").collect()[0].valid
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN|cannot be resolved"):
        sess.execute("EXPLAIN (TYPE VALIDATE) SELECT no_such_col FROM nation")


# -- CREATE FUNCTION / DROP FUNCTION (SqlBase.g4:72-79) ----------------------


def test_create_function_and_call(spark):
    sess = _sess(spark)
    r = sess.execute(
        "CREATE OR REPLACE FUNCTION disc_price(p double, d double) "
        "RETURNS double RETURN p * (1 - d)"
    ).collect()
    assert r[0].result == "CREATE FUNCTION"
    got = sess.execute("SELECT disc_price(100.0, 0.25) AS v").collect()[0].v
    assert got == 75.0


def test_create_function_routine_characteristics_accepted(spark):
    """LANGUAGE SQL / DETERMINISTIC / null-input clauses parse and drop."""
    sess = _sess(spark)
    sess.execute(
        "CREATE OR REPLACE FUNCTION shout(s varchar) RETURNS varchar "
        "COMMENT 'upper + bang' LANGUAGE SQL DETERMINISTIC "
        "RETURNS NULL ON NULL INPUT RETURN concat(upper(s), '!')"
    )
    assert sess.execute("SELECT shout('hi') AS v").collect()[0].v == "HI!"


def test_create_function_qualified_name_registers_bare(spark):
    sess = _sess(spark)
    sess.execute(
        "CREATE OR REPLACE FUNCTION memory.default.double_it(x bigint) "
        "RETURNS bigint RETURN x * 2"
    )
    assert sess.execute("SELECT double_it(21) AS v").collect()[0].v == 42


def test_create_function_usable_from_plain_sql_and_compat_layer(spark):
    """A created function composes with registered compat scalars."""
    sess = _sess(spark)
    sess.execute(
        "CREATE OR REPLACE FUNCTION nation_tag(n varchar) RETURNS varchar "
        "RETURN concat('tag:', lower(n))"
    )
    rows = sess.execute(
        "SELECT n_name, nation_tag(n_name) AS tag FROM nation ORDER BY n_name LIMIT 2"
    ).collect()
    assert rows[0].tag == "tag:" + rows[0].n_name.lower()


def test_drop_function(spark):
    sess = _sess(spark)
    sess.execute("CREATE OR REPLACE FUNCTION ephemeral_fn(x int) RETURNS int RETURN x + 1")
    sess.execute("DROP FUNCTION ephemeral_fn")
    with pytest.raises(Exception, match="UNRESOLVED_ROUTINE|Undefined function|not found"):
        sess.execute("SELECT ephemeral_fn(1)").collect()
    # IF EXISTS on a missing function is a no-op
    sess.execute("DROP FUNCTION IF EXISTS ephemeral_fn")


# -- transactions (TransactionManager.java autocommit contract) --------------


def test_transaction_lifecycle_commit(spark):
    sess = _sess(spark)
    assert sess.execute("START TRANSACTION").collect()[0].result == "START TRANSACTION"
    # statements inside run normally (autocommit per statement)
    assert sess.execute("SELECT count(*) AS n FROM region").collect()[0].n == 5
    assert sess.execute("COMMIT").collect()[0].result == "COMMIT"


def test_transaction_modes_accepted(spark):
    sess = _sess(spark)
    sess.execute("START TRANSACTION ISOLATION LEVEL READ COMMITTED, READ WRITE")
    sess.execute("COMMIT WORK")


def test_commit_outside_transaction_errors(spark):
    with pytest.raises(ValueError, match="No transaction in progress"):
        _sess(spark).execute("COMMIT")


def test_rollback_outside_transaction_errors(spark):
    with pytest.raises(ValueError, match="No transaction in progress"):
        _sess(spark).execute("ROLLBACK")


def test_nested_transaction_errors(spark):
    sess = _sess(spark)
    sess.execute("START TRANSACTION")
    with pytest.raises(ValueError, match="Nested transactions"):
        sess.execute("START TRANSACTION")
    sess.execute("COMMIT")


def test_rollback_of_empty_transaction_succeeds(spark):
    """A transaction with no writes rolls back cleanly (and used to raise
    under the old autocommit-only contract — the DML surface is now
    transactional; see the transactional-DML tests below)."""
    sess = _sess(spark)
    sess.execute("START TRANSACTION")
    assert sess.execute("ROLLBACK").collect()[0].result == "ROLLBACK"
    # rollback ended the transaction
    sess.execute("START TRANSACTION")
    sess.execute("COMMIT")


# -- CREATE TYPE … AS ENUM (BigintEnumType / VarcharEnumType) ----------------


def test_create_type_varchar_enum(spark):
    sess = _sess(spark)
    assert (
        sess.execute("CREATE TYPE mood AS ENUM ('happy', 'sad', 'ok')").collect()[0].result
        == "CREATE TYPE"
    )
    row = sess.execute("SELECT mood('happy') AS a, mood(NULL) AS b").collect()[0]
    assert row.a == "happy" and row.b is None
    with pytest.raises(Exception, match="Invalid enum value for mood: angry"):
        sess.execute("SELECT mood('angry')").collect()
    sess.execute("DROP TYPE mood")
    with pytest.raises(ValueError, match="Type not found"):
        sess.execute("DROP TYPE mood")


def test_create_type_bigint_enum(spark):
    sess = _sess(spark)
    sess.execute("CREATE TYPE http_status AS ENUM (200, 404, 500)")
    assert sess.execute("SELECT http_status(404) AS v").collect()[0].v == 404
    with pytest.raises(Exception, match="Invalid enum value for http_status: 418"):
        sess.execute("SELECT http_status(418)").collect()
    sess.execute("DROP TYPE http_status")


def test_create_type_enum_over_table_column(spark):
    """Enum constraint as a column validator — every o_orderstatus value is
    a member, so the constructor passes the whole column through."""
    sess = _sess(spark)
    sess.execute("CREATE TYPE orderstatus AS ENUM ('F', 'O', 'P')")
    n = sess.execute(
        "SELECT count(orderstatus(o_orderstatus)) AS n FROM orders"
    ).collect()[0].n
    total = sess.execute("SELECT count(*) AS n FROM orders").collect()[0].n
    assert n == total
    sess.execute("DROP TYPE orderstatus")


def test_create_type_rejects_bad_declarations(spark):
    sess = _sess(spark)
    with pytest.raises(ValueError, match="quoted strings or integers"):
        sess.execute("CREATE TYPE broken AS ENUM (happy, sad)")


# -- access control (SqlBase.g4:97-117; AccessControlManager.java) -----------


def test_roles_lifecycle_and_show(spark):
    """CREATE/DROP ROLE, GRANT role TO USER, SHOW ROLES — the role surface
    of SqlBase.g4's createRole/dropRole/grantRoles productions."""
    from sensql_presto_spark.access import AccessControl

    store = AccessControl()
    sess = StatementSession(spark, SF, user="admin", access=store)
    sess.execute("CREATE ROLE analyst")
    sess.execute("CREATE ROLE reader")
    assert [r.role for r in sess.execute("SHOW ROLES").collect()] == ["analyst", "reader"]
    with pytest.raises(ValueError, match="already exists"):
        sess.execute("CREATE ROLE analyst")
    sess.execute("GRANT analyst TO USER alice")
    assert "analyst" in store.roles_of("alice")
    sess.execute("REVOKE analyst FROM USER alice")
    assert "analyst" not in store.roles_of("alice")
    sess.execute("DROP ROLE analyst")
    sess.execute("DROP ROLE reader")
    with pytest.raises(ValueError, match="does not exist"):
        sess.execute("DROP ROLE analyst")


def test_grant_revoke_enforced_select(spark):
    """Table-level SELECT enforcement: denied without a grant, allowed
    after GRANT (directly or via a role), denied again after REVOKE —
    AccessControlManager.checkCanSelectFromColumns semantics."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    alice = StatementSession(
        spark, SF, user="alice", access=store, enforce_access=True
    )
    with pytest.raises(AccessDeniedError, match="Access Denied"):
        alice.execute("SELECT count(*) FROM nation")
    admin.execute("GRANT SELECT ON nation TO USER alice")
    assert alice.execute("SELECT count(*) AS n FROM nation").collect()[0].n == 25
    # grants surface in SHOW GRANTS with the table_privileges shape
    rows = alice.execute("SHOW GRANTS ON nation").collect()
    assert [(r.grantee, r.privilege_type, r.table_name, r.is_grantable) for r in rows] == [
        ("alice", "SELECT", "nation", False)
    ]
    admin.execute("REVOKE SELECT ON nation FROM USER alice")
    with pytest.raises(AccessDeniedError):
        alice.execute("SELECT count(*) FROM nation")
    # role-inherited grant
    admin.execute("CREATE ROLE readers")
    admin.execute("GRANT SELECT ON nation TO ROLE readers")
    admin.execute("GRANT readers TO USER alice")
    assert alice.execute("SELECT count(*) AS n FROM nation").collect()[0].n == 25
    # SET ROLE NONE disables the role's grant; SET ROLE ALL restores
    alice.execute("SET ROLE NONE")
    with pytest.raises(AccessDeniedError):
        alice.execute("SELECT count(*) FROM nation")
    alice.execute("SET ROLE ALL")
    assert alice.execute("SELECT count(*) AS n FROM nation").collect()[0].n == 25
    admin.execute("DROP ROLE readers")


def test_grant_option_regrant_contract(spark):
    """WITH GRANT OPTION lets a non-admin regrant; without it, a grant
    attempt is denied (AccessControlManager.checkCanGrantTablePrivilege)."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    bob = StatementSession(spark, SF, user="bob", access=store, enforce_access=True)
    admin.execute("GRANT SELECT ON region TO USER bob")
    with pytest.raises(AccessDeniedError, match="Cannot grant"):
        bob.execute("GRANT SELECT ON region TO USER carol")
    admin.execute("GRANT SELECT ON region TO USER bob WITH GRANT OPTION")
    bob.execute("GRANT SELECT ON region TO USER carol")
    carol = StatementSession(spark, SF, user="carol", access=store, enforce_access=True)
    assert carol.execute("SELECT count(*) AS n FROM region").collect()[0].n == 5
    # REVOKE GRANT OPTION FOR strips regrant ability but keeps the privilege
    admin.execute("REVOKE GRANT OPTION FOR SELECT ON region FROM USER bob")
    assert bob.execute("SELECT count(*) AS n FROM region").collect()[0].n == 5
    with pytest.raises(AccessDeniedError, match="Cannot grant"):
        bob.execute("GRANT SELECT ON region TO USER dave")


def test_access_enforced_on_execute_views_and_explain(spark):
    """No side doors around table-grant enforcement: EXECUTE of a prepared
    statement, CREATE (MATERIALIZED) VIEW definitions, and every EXPLAIN
    variant all analyze the underlying query and must enforce — the
    reference checks in Analyzer.java on every analyzed query."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    eve = StatementSession(spark, SF, user="eve", access=store, enforce_access=True)
    # PREPARE itself is metadata-only, but EXECUTE must enforce
    eve.execute("PREPARE p_leak FROM SELECT * FROM nation")
    with pytest.raises(AccessDeniedError):
        eve.execute("EXECUTE p_leak")
    # view / matview definitions enforce at definition time (DEFINER rights)
    with pytest.raises(AccessDeniedError):
        eve.execute("CREATE VIEW v_leak AS SELECT * FROM nation")
    with pytest.raises(AccessDeniedError):
        eve.execute("CREATE MATERIALIZED VIEW mv_leak AS SELECT * FROM nation")
    # EXPLAIN variants must not leak schema/stats of ungranted tables
    for stmt in (
        "EXPLAIN (TYPE IO) SELECT * FROM nation",
        "EXPLAIN (TYPE DISTRIBUTED) SELECT * FROM nation",
        "EXPLAIN (TYPE LOGICAL) SELECT * FROM nation",
        "EXPLAIN (TYPE VALIDATE) SELECT * FROM nation",
    ):
        with pytest.raises(AccessDeniedError):
            eve.execute(stmt)
    # DESCRIBE OUTPUT analyzes the prepared query - same enforcement
    with pytest.raises(AccessDeniedError):
        eve.execute("DESCRIBE OUTPUT p_leak")
    # after a grant, the same paths all work
    admin = StatementSession(spark, SF, user="admin", access=store)
    admin.execute("GRANT SELECT ON nation TO USER eve")
    assert len(eve.execute("EXECUTE p_leak").collect()) == 25
    eve.execute("CREATE VIEW v_leak AS SELECT n_name FROM nation")
    assert len(eve.execute("SELECT * FROM v_leak").collect()) == 25
    eve.execute("DROP VIEW v_leak")
    admin.execute("REVOKE SELECT ON nation FROM USER eve")


def test_drop_role_purges_grants_and_memberships(spark):
    """DROP ROLE removes the role's table grants and its role-to-role
    memberships — re-CREATE of the same name must NOT resurrect old
    privileges (privilege-escalation hazard the reference avoids)."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    mallory = StatementSession(
        spark, SF, user="mallory", access=store, enforce_access=True
    )
    admin.execute("CREATE ROLE temp_role")
    admin.execute("GRANT SELECT ON nation TO ROLE temp_role")
    admin.execute("CREATE ROLE inner_role")
    admin.execute("GRANT SELECT ON region TO ROLE inner_role")
    admin.execute("GRANT inner_role TO ROLE temp_role")
    admin.execute("DROP ROLE temp_role")
    # same-name re-create: no grants, no inherited membership
    admin.execute("CREATE ROLE temp_role")
    admin.execute("GRANT temp_role TO USER mallory")
    with pytest.raises(AccessDeniedError):
        mallory.execute("SELECT count(*) FROM nation")
    with pytest.raises(AccessDeniedError):
        mallory.execute("SELECT count(*) FROM region")
    assert store.roles_of("mallory") == {"public", "temp_role"}
    admin.execute("DROP ROLE temp_role")
    admin.execute("DROP ROLE inner_role")


def test_call_unknown_procedure_raises(spark):
    with pytest.raises(ValueError, match="Procedure not registered"):
        _sess(spark).execute("CALL system.no_such_proc('x')")


def test_call_kill_query_needs_coordinator(spark):
    """The session-level default is a loud contract; the HTTP server
    injects the real KillQueryProcedure implementation."""
    with pytest.raises(ValueError, match="coordinator"):
        _sess(spark).execute("CALL system.runtime.kill_query('q1')")


def test_call_refresh_materialized_view(spark):
    sess = _sess(spark)
    sess.execute("CREATE OR REPLACE MATERIALIZED VIEW mv_proc AS SELECT 5 AS x")
    sess.execute("CALL system.refresh_materialized_view('mv_proc')")
    assert sess.matviews._versions("mv_proc") == [0, 1]
    # named-argument spelling (Presto CALL supports name => value)
    sess.execute("CALL system.refresh_materialized_view(name => 'mv_proc')")
    assert sess.matviews._versions("mv_proc") == [0, 1, 2]
    sess.execute("DROP MATERIALIZED VIEW mv_proc")


def test_call_rollback_to_snapshot(spark):
    """RollbackToSnapshotProcedure semantics: committing the old snapshot's
    contents as a NEW version (history preserved, like the iceberg proc)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sensql_presto_spark import catalog
    from sensql_presto_spark.mutation import WritableTable

    path = os.path.join("spark-warehouse", "rollback_demo")
    shutil.rmtree(path, ignore_errors=True)
    nation = catalog.table(spark, SF, "nation").select("n_nationkey", "n_name")
    t = WritableTable.create(spark, path, nation)
    t.delete(F.col("n_nationkey") >= 5)
    assert t.read().count() == 5
    _sess(spark).execute(f"CALL system.rollback_to_snapshot('{path}', 0)")
    t2 = WritableTable(spark, path)
    assert t2.read().count() == 25  # restored
    assert t2.version == 2  # rollback commits a new version
    shutil.rmtree(path, ignore_errors=True)


# -- metadata listing: SHOW TABLES/SCHEMAS/CATALOGS/COLUMNS, SHOW CREATE -----


def test_show_catalogs_schemas_tables(spark):
    sess = _sess(spark)
    assert sess.execute("SHOW CATALOGS").collect()[0].Catalog == "spark"
    schemas = {r.Schema for r in sess.execute("SHOW SCHEMAS").collect()}
    assert {"default", "information_schema"} <= schemas
    tables = [r.Table for r in sess.execute("SHOW TABLES").collect()]
    assert "nation" in tables and "lineitem" in tables
    liked = [r.Table for r in sess.execute("SHOW TABLES LIKE 'n%'").collect()]
    assert liked == ["nation"]


def test_show_tables_includes_matviews(spark):
    sess = _sess(spark)
    sess.execute("CREATE OR REPLACE MATERIALIZED VIEW mv_listing_probe AS SELECT 1 AS x")
    assert "mv_listing_probe" in [r.Table for r in sess.execute("SHOW TABLES").collect()]
    sess.execute("DROP MATERIALIZED VIEW mv_listing_probe")


def test_show_columns_and_describe_presto_types(spark):
    sess = _sess(spark)
    cols = {r.Column: r.Type for r in sess.execute("SHOW COLUMNS FROM nation").collect()}
    assert cols["n_nationkey"] == "integer" and cols["n_name"] == "varchar"
    desc = {r.Column: r.Type for r in sess.execute("DESCRIBE lineitem").collect()}
    assert desc["l_quantity"] == "double" and desc["l_shipdate"] == "timestamp"
    with pytest.raises(ValueError, match="Table not found"):
        sess.execute("DESCRIBE no_such_table")


def test_show_create_table(spark):
    ddl = _sess(spark).execute("SHOW CREATE TABLE region").collect()[0][0]
    assert ddl.startswith("CREATE TABLE region (")
    assert '"r_regionkey" integer' in ddl and "PARQUET" in ddl


def test_show_create_materialized_view_and_function(spark):
    sess = _sess(spark)
    sess.execute("CREATE OR REPLACE MATERIALIZED VIEW mv_ddl_probe AS SELECT 1 AS x")
    ddl = sess.execute("SHOW CREATE MATERIALIZED VIEW mv_ddl_probe").collect()[0][0]
    assert ddl == "CREATE MATERIALIZED VIEW mv_ddl_probe AS\nSELECT 1 AS x"
    sess.execute("DROP MATERIALIZED VIEW mv_ddl_probe")

    sess.execute(
        "CREATE OR REPLACE FUNCTION show_probe(x bigint) RETURNS bigint RETURN x + 1"
    )
    fn = sess.execute("SHOW CREATE FUNCTION show_probe").collect()[0][0]
    assert fn == "CREATE FUNCTION show_probe(x bigint) RETURNS bigint RETURN x + 1"
    with pytest.raises(ValueError, match="Function not found"):
        sess.execute("SHOW CREATE FUNCTION nope_fn")


def test_create_distinct_type(spark):
    """DistinctType.java: CREATE TYPE name AS base — a named alias whose
    constructor is an identity cast over the base type."""
    sess = _sess(spark)
    sess.execute("CREATE TYPE ssn AS varchar")
    assert sess.execute("SELECT ssn('123-45-6789') AS v").collect()[0].v == "123-45-6789"
    sess.execute("CREATE TYPE money_cents AS bigint")
    assert sess.execute("SELECT money_cents(100) AS v").collect()[0].v == 100
    sess.execute("DROP TYPE ssn")
    sess.execute("DROP TYPE money_cents")


def test_explain_type_logical(spark):
    rows = _sess(spark).execute(
        "EXPLAIN (TYPE LOGICAL) SELECT r_name FROM region WHERE r_regionkey = 1"
    ).collect()
    text = "\n".join(r.query_plan for r in rows)
    assert "Filter" in text or "r_regionkey" in text
    assert "Relation" in text or "Project" in text


# -- DESCRIBE INPUT / OUTPUT (describe-input.rst, describe-output.rst) -------


def test_describe_input_positions(spark):
    sess = _sess(spark)
    sess.execute("PREPARE my_sel FROM SELECT ? FROM nation WHERE n_regionkey = ? AND n_name < ?")
    rows = sess.execute("DESCRIBE INPUT my_sel").collect()
    assert [(r.Position, r.Type) for r in rows] == [(0, "unknown"), (1, "unknown"), (2, "unknown")]
    # '?' inside a string literal is not a parameter
    sess.execute("PREPARE my_lit FROM SELECT '?' FROM nation")
    assert sess.execute("DESCRIBE INPUT my_lit").count() == 0


def test_describe_output_columns(spark):
    sess = _sess(spark)
    sess.execute("PREPARE my_out FROM SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = ?")
    rows = sess.execute("DESCRIBE OUTPUT my_out").collect()
    got = [(r["Column Name"], r.Type, r["Type Size"]) for r in rows]
    assert got == [("n_nationkey", "integer", 4), ("n_name", "varchar", 0)]


def test_describe_output_unknown_statement(spark):
    with pytest.raises(ValueError, match="Prepared statement not found"):
        _sess(spark).execute("DESCRIBE OUTPUT nope")


# -- logical views (create-view.rst / CreateViewTask.java) -------------------


def test_create_view_lifecycle(spark):
    sess = _sess(spark)
    sess.execute("CREATE VIEW asia_nations AS SELECT n_name FROM nation WHERE n_regionkey = 2")
    assert sess.execute("SELECT count(*) AS n FROM asia_nations").collect()[0].n == 5
    ddl = sess.execute("SHOW CREATE VIEW asia_nations").collect()[0][0]
    assert ddl.startswith("CREATE VIEW asia_nations AS")
    with pytest.raises(ValueError, match="already exists"):
        sess.execute("CREATE VIEW asia_nations AS SELECT 1")
    sess.execute("CREATE OR REPLACE VIEW asia_nations AS SELECT n_name FROM nation")
    assert sess.execute("SELECT count(*) AS n FROM asia_nations").collect()[0].n == 25
    sess.execute("DROP VIEW asia_nations")
    with pytest.raises(ValueError, match="not found"):
        sess.execute("SHOW CREATE VIEW asia_nations")
    sess.execute("DROP VIEW IF EXISTS asia_nations")  # no-op, no raise


def test_create_view_cannot_shadow_base_table(spark):
    with pytest.raises(ValueError, match="conflicts"):
        _sess(spark).execute("CREATE VIEW nation AS SELECT 1")


def test_parameter_tokenizer_property():
    """Property: count_parameters agrees with substitute_parameters — for
    any SQL-ish text built from literals/quotes/markers, substituting
    exactly count() params succeeds and leaves no '?' outside strings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sensql_presto_spark.statements import count_parameters, substitute_parameters

    piece = st.sampled_from(
        ["SELECT x", " ? ", "'it''s ? quoted'", "'?'", ", ", "a = ?", "'abc'", "?"]
    )

    @given(st.lists(piece, min_size=1, max_size=8))
    @settings(max_examples=200, deadline=None)
    def check(pieces):
        sql = "".join(pieces)
        n = count_parameters(sql)
        out = substitute_parameters(sql, ["1"] * n)
        assert count_parameters(out) == 0  # every real marker consumed
        # string literals survive untouched
        assert out.count("it''s") == sql.count("it''s")

    check()


def test_create_type_keyed_enum_and_enum_key(spark):
    """Presto's 'KEY' = value declaration form (BigintEnumType) plus the
    enum_key accessor (LongEnumOperators.java:155): value -> declared key,
    INVALID_FUNCTION_ARGUMENT on a non-member."""
    sess = StatementSession(spark, SF)
    sess.execute("CREATE TYPE mood_level AS ENUM ('HAPPY' = 0, 'SAD' = 1, 'OK' = 2)")
    row = spark.sql(
        "SELECT mood_level(1) AS v, mood_level_enum_key(1) AS k, "
        "mood_level_enum_key(0) AS k0"
    ).collect()[0]
    assert (row.v, row.k, row.k0) == (1, "SAD", "HAPPY")
    with pytest.raises(Exception, match="No value"):
        spark.sql("SELECT mood_level_enum_key(9)").collect()
    with pytest.raises(Exception, match="Invalid enum value"):
        spark.sql("SELECT mood_level(9)").collect()


def test_enum_key_varchar_defaults_to_value_text(spark):
    sess = StatementSession(spark, SF)
    sess.execute("CREATE TYPE flagtype AS ENUM ('F', 'O', 'P')")
    row = spark.sql("SELECT flagtype_enum_key('O') AS k").collect()[0]
    assert row.k == "O"


def test_use_statement_contracts(spark):
    """USE catalog.schema: valid targets switch the session schema; unknown
    catalog/schema raise the reference's not-found errors."""
    sess = StatementSession(spark, SF)
    assert sess.schema == "default"
    sess.execute("USE information_schema")
    assert sess.schema == "information_schema"
    # the USE target is honored: SHOW TABLES now lists the metadata schema
    assert {r[0] for r in sess.execute("SHOW TABLES").collect()} == {"columns", "tables"}
    sess.execute("USE spark.default")
    assert sess.schema == "default"
    with pytest.raises(ValueError, match="Catalog does not exist"):
        sess.execute("USE hive.default")
    with pytest.raises(ValueError, match="Schema does not exist"):
        sess.execute("USE nosuch")


# -- SQL DML statements on managed tables (delete/update/merge productions) --


def _fresh_dml_table(spark, sess, name="t_dml_test"):
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    sess.execute(
        f"CREATE TABLE {name} AS SELECT n_nationkey, n_name, n_regionkey FROM nation"
    )
    return name


def test_sql_delete_update_roundtrip(spark):
    """DELETE FROM / UPDATE ... SET as SQL statements: copy-on-write
    replace on a managed table, affected-row counts returned (reference
    delete/update productions + update-count protocol)."""
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess)
    assert sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 20").collect()[0].rows == 5
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 20
    r = sess.execute(
        f"UPDATE {t} SET n_name = concat(n_name, '!') WHERE n_regionkey = 0"
    ).collect()
    assert r[0].rows == 4
    got = sess.execute(
        f"SELECT n_name FROM {t} WHERE n_nationkey = 0"
    ).collect()[0].n_name
    assert got.endswith("!")
    # unconditional delete empties the table
    sess.execute(f"DELETE FROM {t}")
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 0
    spark.sql(f"DROP TABLE {t}")


def test_sql_merge_update_insert(spark):
    """MERGE INTO with matched-update + not-matched-insert: update count =
    matched + inserted; unmentioned insert columns become NULL; a target
    row matching multiple source rows raises (MergeOperator contract)."""
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess)
    sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 20")
    r = sess.execute(
        f"MERGE INTO {t} t USING (SELECT n_nationkey, upper(n_name) AS nm "
        "FROM nation WHERE n_nationkey BETWEEN 18 AND 22) s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET n_name = s.nm "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) VALUES (s.n_nationkey, s.nm)"
    ).collect()
    assert r[0].rows == 5  # 2 matched + 3 inserted
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 23
    row = sess.execute(
        f"SELECT n_name, n_regionkey FROM {t} WHERE n_nationkey = 21"
    ).collect()[0]
    assert row.n_name == "NATION_21" and row.n_regionkey is None
    # ambiguous source: two source rows hit one target row -> loud error
    with pytest.raises(ValueError, match="more than one source row"):
        sess.execute(
            f"MERGE INTO {t} t USING (SELECT 1 AS k UNION ALL SELECT 1 AS k) s "
            "ON t.n_nationkey = s.k "
            "WHEN MATCHED THEN UPDATE SET n_name = 'dup'"
        )
    spark.sql(f"DROP TABLE {t}")


def test_sql_delete_keeps_rows_where_the_predicate_is_null(spark):
    """DELETE ... WHERE p deletes the rows where p is TRUE; a row where p
    is NULL stays (WHERE semantics, as in WritableTable.delete)."""
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess, "t_dml_delete_null")
    spark.sql(f"DROP TABLE {t}")
    sess.execute(
        f"CREATE TABLE {t} AS SELECT * FROM VALUES (1, 10), (2, NULL), (3, 1) AS v(id, x)"
    )
    assert sess.execute(f"DELETE FROM {t} WHERE x > 5").collect()[0].rows == 1
    assert [r.id for r in sess.execute(f"SELECT id FROM {t} ORDER BY id").collect()] == [2, 3]
    spark.sql(f"DROP TABLE {t}")


def test_sql_merge_keeps_brace_literals(spark):
    """MERGE's clauses reach SQL next to its {name} relation slots; a brace
    literal in ON, SET or VALUES is still a literal."""
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess)
    sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 24")
    r = sess.execute(
        f"MERGE INTO {t} t USING (SELECT n_nationkey, '{{s}}' AS tag FROM nation "
        "WHERE n_nationkey >= 22) s "
        "ON t.n_nationkey = s.n_nationkey AND s.tag <> '{mt}' "
        "WHEN MATCHED THEN UPDATE SET n_name = concat('{', s.tag, '}') "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) VALUES (s.n_nationkey, '{ms}')"
    ).collect()
    assert r[0].rows == 3  # 2 matched + 1 inserted
    rows = sess.execute(
        f"SELECT n_nationkey, n_name FROM {t} WHERE n_nationkey >= 22 ORDER BY 1"
    ).collect()
    assert [(x.n_nationkey, x.n_name) for x in rows] == [
        (22, "{{s}}"),
        (23, "{{s}}"),
        (24, "{ms}"),
    ]
    spark.sql(f"DROP TABLE {t}")


def test_sql_dml_rejects_immutable_base_tables(spark):
    sess = _sess(spark)
    for stmt in [
        "DELETE FROM nation WHERE n_nationkey = 1",
        "UPDATE nation SET n_name = 'x'",
    ]:
        with pytest.raises(ValueError, match="immutable base parquet"):
            sess.execute(stmt)


# -- transactional DML (TransactionManager.java; backup/restore atomicity) ---


def test_transaction_rollback_restores_dml(spark):
    """START TRANSACTION + DELETE/UPDATE/INSERT INTO + ROLLBACK restores
    every touched managed table to its pre-transaction state."""
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess, "t_txn_test")
    sess.execute("START TRANSACTION")
    sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 10")
    sess.execute(f"UPDATE {t} SET n_name = 'gone' WHERE n_nationkey = 0")
    sess.execute(f"INSERT INTO {t} VALUES (99, 'NEW', 0)")
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 11
    r = sess.execute("ROLLBACK")
    assert r.collect()[0].result == "ROLLBACK"
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    assert (
        sess.execute(f"SELECT n_name FROM {t} WHERE n_nationkey = 0").collect()[0].n_name
        == "NATION_0"
    )
    # staging tables are cleaned up
    assert not [x for x in spark.catalog.listTables() if x.name.startswith("__txn_stage")]
    spark.sql(f"DROP TABLE {t}")


def test_transaction_commit_keeps_dml(spark):
    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess, "t_txn_commit")
    sess.execute("START TRANSACTION")
    sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 5")
    sess.execute("COMMIT")
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 5
    assert not [x for x in spark.catalog.listTables() if x.name.startswith("__txn_stage")]
    spark.sql(f"DROP TABLE {t}")


def test_transaction_rollback_loud_on_autocommitted_write(spark):
    """A CTAS inside the transaction autocommits; ROLLBACK must fail loudly
    rather than silently keep it."""
    import shutil
    from urllib.parse import urlparse

    sess = _sess(spark)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("DROP TABLE IF EXISTS t_txn_ctas")
    shutil.rmtree(f"{wh}/t_txn_ctas", ignore_errors=True)
    sess.execute("START TRANSACTION")
    sess.execute("CREATE TABLE t_txn_ctas AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="cannot fully undo"):
        sess.execute("ROLLBACK")
    spark.sql("DROP TABLE IF EXISTS t_txn_ctas")


def test_transaction_mixed_rollback_restores_dml_before_raising(spark):
    """Mixed transaction (DELETE then CTAS): ROLLBACK must restore the
    DELETE's pre-image from its backup FIRST, then raise the loud
    cannot-fully-rollback error for the autocommitted CTAS — never leave
    the DELETE committed with its backup destroyed."""
    import shutil
    from urllib.parse import urlparse

    sess = _sess(spark)
    t = _fresh_dml_table(spark, sess, "t_txn_mixed")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("DROP TABLE IF EXISTS t_txn_mixed_ctas")
    shutil.rmtree(f"{wh}/t_txn_mixed_ctas", ignore_errors=True)
    sess.execute("START TRANSACTION")
    sess.execute(f"DELETE FROM {t} WHERE n_nationkey >= 5")
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 5
    sess.execute("CREATE TABLE t_txn_mixed_ctas AS SELECT 1 AS x")
    with pytest.raises(ValueError, match="cannot fully undo"):
        sess.execute("ROLLBACK")
    # the DELETE was undone despite the raise ...
    assert sess.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    # ... the CTAS stayed (autocommitted), and staging was cleaned up
    assert spark.catalog.tableExists("t_txn_mixed_ctas")
    assert not [x for x in spark.catalog.listTables() if x.name.startswith("__txn_stage")]
    spark.sql(f"DROP TABLE {t}")
    spark.sql("DROP TABLE IF EXISTS t_txn_mixed_ctas")


def test_transaction_read_isolation_contract(spark):
    """Pin the staging-based isolation contract (r6): a SECOND session —
    forked, as the HTTP server forks every client — reading a table that
    another session mutated inside a still-open transaction sees the
    PRE-IMAGE (READ COMMITTED: in-txn writes land in a private staging
    copy and publish only on COMMIT), while the writer itself reads its
    own writes.  ROLLBACK drops the staging copy; the base table was
    never touched."""
    from sensql_presto_spark.cli import prepare_session

    writer = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    reader = StatementSession(forked, SF)
    t = _fresh_dml_table(spark, writer, "t_txn_iso")
    writer.execute("START TRANSACTION")
    writer.execute(f"DELETE FROM {t} WHERE n_nationkey >= 5")
    # read-your-writes inside the transaction ...
    assert writer.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 5
    # ... but the open-transaction write is INVISIBLE to the other session
    assert reader.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    writer.execute("ROLLBACK")
    assert writer.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    assert reader.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    # a committed transaction IS visible to the other session
    writer.execute("START TRANSACTION")
    writer.execute(f"DELETE FROM {t} WHERE n_nationkey >= 20")
    assert reader.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    writer.execute("COMMIT")
    assert reader.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 20
    assert writer.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 20
    spark.sql(f"DROP TABLE {t}")


def test_show_role_grants_and_grammar_tail_contracts(spark):
    """SHOW ROLE GRANTS lists the session user's (transitive) roles;
    ALTER FUNCTION / ALTER SCHEMA RENAME get loud contracts — closes the
    SqlBase.g4 statement-production audit."""
    from sensql_presto_spark.access import AccessControl

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    alice = StatementSession(spark, SF, user="alice", access=store)
    admin.execute("CREATE ROLE tier1")
    admin.execute("CREATE ROLE tier2")
    admin.execute("GRANT tier1 TO USER alice")
    admin.execute("GRANT tier2 TO ROLE tier1")  # transitive
    roles = [r.role for r in alice.execute("SHOW ROLE GRANTS").collect()]
    assert roles == ["tier1", "tier2"]
    assert admin.execute("SHOW ROLE GRANTS").collect() == []
    with pytest.raises(ValueError, match="ALTER FUNCTION is not supported"):
        admin.execute("ALTER FUNCTION f CALLED ON NULL INPUT")
    with pytest.raises(ValueError, match="cannot be renamed"):
        admin.execute("ALTER SCHEMA s RENAME TO t")
    admin.execute("DROP ROLE tier1")
    admin.execute("DROP ROLE tier2")


def test_dml_enforces_per_statement_privileges(spark):
    """DELETE/UPDATE check their own privilege class, not SELECT
    (checkCanDeleteFromTable / checkCanUpdateTableColumns)."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    t = _fresh_dml_table(spark, admin, "t_priv_dml")
    bob = StatementSession(spark, SF, user="bob", access=store, enforce_access=True)
    admin.execute(f"GRANT SELECT ON {t} TO USER bob")
    assert bob.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 25
    with pytest.raises(AccessDeniedError):
        bob.execute(f"DELETE FROM {t} WHERE n_nationkey = 0")
    admin.execute(f"GRANT DELETE ON {t} TO USER bob")
    assert bob.execute(f"DELETE FROM {t} WHERE n_nationkey = 0").collect()[0].rows == 1
    with pytest.raises(AccessDeniedError):
        bob.execute(f"UPDATE {t} SET n_name = 'x' WHERE n_nationkey = 1")
    spark.sql(f"DROP TABLE {t}")


def test_create_drop_schema_roundtrip(spark):
    """CREATE SCHEMA / DROP SCHEMA (SqlBase.g4 createSchema/dropSchema)
    pass through to Spark's catalog and surface in SHOW SCHEMAS."""
    sess = _sess(spark)
    sess.execute("CREATE SCHEMA IF NOT EXISTS analytics_test")
    names = [r.Schema for r in sess.execute("SHOW SCHEMAS").collect()]
    assert "analytics_test" in names and "default" in names
    sess.execute("DROP SCHEMA IF EXISTS analytics_test")
    names = [r.Schema for r in sess.execute("SHOW SCHEMAS").collect()]
    assert "analytics_test" not in names


def test_view_security_definer_vs_invoker(spark):
    """SECURITY DEFINER (default): creator's rights checked at CREATE,
    readers need nothing on the base tables. SECURITY INVOKER: creation
    is free, but every reader's own rights are checked against the
    expanded body (SqlBase.g4 createView SECURITY clause)."""
    from sensql_presto_spark.access import AccessControl, AccessDeniedError

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store)
    eve = StatementSession(spark, SF, user="eve", access=store, enforce_access=True)
    # DEFINER view by admin: eve can read it without a grant on region
    admin.execute("CREATE VIEW v_def SECURITY DEFINER AS SELECT r_name FROM region")
    eve.views, eve.view_security = admin.views, admin.view_security  # shared catalog
    assert len(eve.execute("SELECT * FROM v_def").collect()) == 5
    # INVOKER view: eve's own rights are checked -> denied, then granted
    admin.execute("CREATE VIEW v_inv SECURITY INVOKER AS SELECT r_name FROM region")
    with pytest.raises(AccessDeniedError):
        eve.execute("SELECT * FROM v_inv")
    admin.execute("GRANT SELECT ON region TO USER eve")
    assert len(eve.execute("SELECT * FROM v_inv").collect()) == 5
    admin.execute("REVOKE SELECT ON region FROM USER eve")
    admin.execute("DROP VIEW v_def")
    admin.execute("DROP VIEW v_inv")


def test_write_write_conflict_first_committer_wins(spark):
    """Two sessions stage transactions over the SAME table: the first
    COMMIT publishes; the second COMMIT detects that the table moved past
    its snapshot and aborts LOUDLY (first-committer-wins write-write
    conflict detection) instead of silently clobbering the first
    committer's rows — closing the documented last-writer-wins delta.
    The loser's transaction is fully rolled back and its session is
    usable again."""
    from sensql_presto_spark.cli import prepare_session

    a = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    b = StatementSession(forked, SF)
    t = _fresh_dml_table(spark, a, "t_txn_ww")

    a.execute("START TRANSACTION")
    a.execute(f"DELETE FROM {t} WHERE n_nationkey >= 20")  # a keeps 20 rows
    b.execute("START TRANSACTION")
    b.execute(f"DELETE FROM {t} WHERE n_nationkey >= 10")  # b keeps 10 rows
    a.execute("COMMIT")  # first committer wins
    with pytest.raises(ValueError, match="TRANSACTION_CONFLICT"):
        b.execute("COMMIT")
    # the winner's state survives everywhere; the loser's txn left no trace
    assert a.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 20
    assert b.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 20
    # the loser can retry on the new state
    b.execute("START TRANSACTION")
    b.execute(f"DELETE FROM {t} WHERE n_nationkey >= 10")
    b.execute("COMMIT")
    assert a.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 10
    spark.sql(f"DROP TABLE {t}")


def test_autocommit_write_also_conflicts_open_transaction(spark):
    """A plain autocommit DML from another session counts as a committed
    write: an open transaction that staged the same table before it must
    conflict at COMMIT (its snapshot is stale), not overwrite it."""
    from sensql_presto_spark.cli import prepare_session

    a = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    b = StatementSession(forked, SF)
    t = _fresh_dml_table(spark, a, "t_txn_ww_auto")

    a.execute("START TRANSACTION")
    a.execute(f"UPDATE {t} SET n_regionkey = 99 WHERE n_nationkey < 3")
    b.execute(f"DELETE FROM {t} WHERE n_nationkey = 24")  # autocommit
    with pytest.raises(ValueError, match="TRANSACTION_CONFLICT"):
        a.execute("COMMIT")
    assert a.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 24
    assert (
        a.execute(f"SELECT count(*) AS n FROM {t} WHERE n_regionkey = 99")
        .collect()[0]
        .n
        == 0
    )
    spark.sql(f"DROP TABLE {t}")


def test_disjoint_tables_do_not_conflict(spark):
    """Transactions over DIFFERENT tables commit independently — the
    conflict check is per staged table, not global."""
    from sensql_presto_spark.cli import prepare_session

    a = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    b = StatementSession(forked, SF)
    t1 = _fresh_dml_table(spark, a, "t_txn_dj1")
    t2 = _fresh_dml_table(spark, b, "t_txn_dj2")

    a.execute("START TRANSACTION")
    a.execute(f"DELETE FROM {t1} WHERE n_nationkey >= 5")
    b.execute("START TRANSACTION")
    b.execute(f"DELETE FROM {t2} WHERE n_nationkey >= 7")
    a.execute("COMMIT")
    b.execute("COMMIT")
    assert a.execute(f"SELECT count(*) AS n FROM {t1}").collect()[0].n == 5
    assert a.execute(f"SELECT count(*) AS n FROM {t2}").collect()[0].n == 7
    spark.sql(f"DROP TABLE {t1}")
    spark.sql(f"DROP TABLE {t2}")


def test_rollback_after_concurrent_commit_sees_fresh_state(spark):
    """A session that ROLLs BACK a transaction over a table another
    session overwrote mid-transaction must read the OTHER session's
    committed state afterwards — the staged-table skip in
    _refresh_stale_tables must not swallow the pending refresh (it used
    to mark the generation seen while the shadow covered reads, leaving
    a dead file listing behind: FAILED_READ_FILE)."""
    from sensql_presto_spark.cli import prepare_session

    a = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    b = StatementSession(forked, SF)
    t = _fresh_dml_table(spark, a, "t_txn_rb_fresh")

    a.execute("START TRANSACTION")
    a.execute(f"DELETE FROM {t} WHERE n_nationkey >= 20")
    b.execute(f"DELETE FROM {t} WHERE n_nationkey >= 15")  # autocommit publish
    a.execute("ROLLBACK")
    assert a.execute(f"SELECT count(*) AS n FROM {t}").collect()[0].n == 15
    spark.sql(f"DROP TABLE {t}")


def test_conflict_abort_reports_unrollbackable_statement(spark):
    """When a conflicted COMMIT aborts a transaction that ALSO ran a
    statement outside the transactional DML surface (CTAS autocommits
    durably), the TRANSACTION_CONFLICT error must carry the same loud
    not-undone warning ROLLBACK gives — otherwise 'retry the
    transaction' re-runs the CTAS against a table that already exists."""
    from sensql_presto_spark.cli import prepare_session

    a = _sess(spark)
    forked = spark.newSession()
    prepare_session(forked, SF)
    b = StatementSession(forked, SF)
    t = _fresh_dml_table(spark, a, "t_txn_cf_warn")
    spark.sql("DROP TABLE IF EXISTS t_cf_side")

    a.execute("START TRANSACTION")
    a.execute(f"UPDATE {t} SET n_regionkey = 9 WHERE n_nationkey < 2")
    a.execute("CREATE TABLE t_cf_side AS SELECT 1 AS x")  # autocommits
    b.execute(f"DELETE FROM {t} WHERE n_nationkey = 24")
    with pytest.raises(ValueError) as exc:
        a.execute("COMMIT")
    msg = str(exc.value)
    assert "TRANSACTION_CONFLICT" in msg
    assert "NOT undone" in msg and "t_cf_side" in msg
    # the durable side-table survives; the staged UPDATE does not
    assert a.execute("SELECT count(*) AS n FROM t_cf_side").collect()[0].n == 1
    assert (
        a.execute(f"SELECT count(*) AS n FROM {t} WHERE n_regionkey = 9")
        .collect()[0]
        .n
        == 0
    )
    spark.sql(f"DROP TABLE {t}")
    spark.sql("DROP TABLE IF EXISTS t_cf_side")


# -- r7 transaction-surface fixes (ADVICE r6 + verdict task #3) -------------


def _fresh_managed(spark, sess, name):
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    sess.execute(
        f"CREATE TABLE {name} AS SELECT n_nationkey, n_regionkey "
        "FROM nation WHERE n_nationkey < 6"
    )


def test_txn_qualified_select_sees_staged_write(spark):
    """A qualified reference resolves past the bare-name temp-view shadow;
    the in-txn dispatch must rewrite it to the staging copy so every
    spelling of a staged table reads the transaction's snapshot."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_txn_qual")
    sess.execute("START TRANSACTION")
    try:
        sess.execute("DELETE FROM t_txn_qual WHERE n_nationkey >= 3")
        for spelling in (
            "default.t_txn_qual",
            "spark_catalog.default.t_txn_qual",
            "DEFAULT.T_TXN_QUAL",
        ):
            n = sess.execute(f"SELECT count(*) AS n FROM {spelling}").collect()[0].n
            assert n == 3, f"{spelling} bypassed the staging shadow"
        # string literals must NOT be rewritten
        lit = sess.execute("SELECT 'default.t_txn_qual' AS s").collect()[0].s
        assert lit == "default.t_txn_qual"
    finally:
        sess.execute("ROLLBACK")
    assert (
        sess.execute("SELECT count(*) AS n FROM default.t_txn_qual").collect()[0].n
        == 6
    )
    spark.sql("DROP TABLE t_txn_qual")


def test_txn_two_spellings_share_one_staging_copy(spark):
    """'DELETE FROM T' then 'INSERT INTO default.t' touch one physical
    table: both must land in ONE staging copy (verbatim keying cut two
    stages, each from the base pre-image, and COMMIT kept only the later
    one — the r6 ADVICE medium finding)."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_txn_spell")
    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM T_TXN_SPELL WHERE n_nationkey = 0")
    sess.execute("INSERT INTO default.t_txn_spell VALUES (77, 7)")
    assert len(sess._txn_stages) == 1, "two spellings cut two staging copies"
    sess.execute("COMMIT")
    keys = sorted(
        r.n_nationkey
        for r in sess.execute("SELECT n_nationkey FROM t_txn_spell").collect()
    )
    assert keys == [1, 2, 3, 4, 5, 77], "one spelling's changes were discarded"
    spark.sql("DROP TABLE t_txn_spell")


def test_txn_state_is_empty_after_a_failed_staging_drop(spark, monkeypatch):
    """ROLLBACK forgets the transaction's stages even when dropping a
    staging table fails, so the next transaction starts from empty state
    and cuts a fresh copy of the current table."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_txn_dropfail")
    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM t_txn_dropfail WHERE n_nationkey = 0")
    sql = sess.spark.sql
    failed = []

    def failing_drop(text, *args, **kwargs):
        if text.startswith("DROP TABLE IF EXISTS __txn_stage_"):
            failed.append(text.split()[-1])
            raise RuntimeError("injected staging drop failure")
        return sql(text, *args, **kwargs)

    monkeypatch.setattr(sess.spark, "sql", failing_drop)
    with pytest.raises(Exception, match="injected staging drop failure"):
        sess.execute("ROLLBACK")
    monkeypatch.undo()
    assert failed and not sess._txn_stages, "a failed ROLLBACK kept its stages"
    for stage in failed:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")

    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM t_txn_dropfail WHERE n_nationkey = 1")
    sess.execute("COMMIT")
    keys = sorted(
        r.n_nationkey
        for r in sess.execute("SELECT n_nationkey FROM t_txn_dropfail").collect()
    )
    assert keys == [0, 2, 3, 4, 5], "the rolled-back DELETE leaked"
    spark.sql("DROP TABLE t_txn_dropfail")


def test_execute_prepared_insert_respects_transaction(spark):
    """EXECUTE routes the bound statement through the full dispatcher: a
    prepared INSERT inside a transaction stages (ROLLBACK undoes it)
    instead of dirty-writing the base table."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_txn_exec")
    sess.execute("PREPARE ins FROM INSERT INTO t_txn_exec VALUES (?, ?)")
    sess.execute("START TRANSACTION")
    sess.execute("EXECUTE ins USING 88, 8")
    n_in = sess.execute("SELECT count(*) AS n FROM t_txn_exec").collect()[0].n
    assert n_in == 7, "EXECUTE'd INSERT not visible to the transaction"
    sess.execute("ROLLBACK")
    n_after = sess.execute("SELECT count(*) AS n FROM t_txn_exec").collect()[0].n
    assert n_after == 6, "EXECUTE'd INSERT dirty-wrote the base table"
    spark.sql("DROP TABLE t_txn_exec")


def test_execute_autocommit_insert_bumps_generation(spark):
    """Outside a transaction an EXECUTE'd INSERT must announce the write
    (generation bump) so other sessions refresh their file listings."""
    from sensql_presto_spark import statements as st

    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_exec_gen")
    g0 = st._TABLE_GENERATIONS.get("t_exec_gen", 0)
    sess.execute("PREPARE ins2 FROM INSERT INTO t_exec_gen VALUES (99, 9)")
    sess.execute("EXECUTE ins2")
    assert st._TABLE_GENERATIONS.get("t_exec_gen", 0) == g0 + 1
    spark.sql("DROP TABLE t_exec_gen")


def test_execute_recursion_guard(spark):
    sess = _sess(spark)
    sess.execute("PREPARE loop_p FROM EXECUTE loop_p")
    with pytest.raises(ValueError, match="depth"):
        sess.execute("EXECUTE loop_p")


def test_autocommit_insert_waits_for_publish_lock(spark):
    """The autocommit INSERT path must serialize with COMMIT's
    conflict-check->publish critical section: while _PUBLISH_LOCK is
    held, the INSERT blocks instead of landing inside the window (where
    the publishing overwrite would silently clobber it)."""
    import threading
    import time

    from sensql_presto_spark import statements as st

    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_lock_probe")
    done = threading.Event()

    def insert():
        sess.execute("INSERT INTO t_lock_probe VALUES (55, 5)")
        done.set()

    with st._PUBLISH_LOCK:
        worker = threading.Thread(target=insert, daemon=True)
        worker.start()
        time.sleep(3.0)
        assert not done.is_set(), "autocommit INSERT ran outside _PUBLISH_LOCK"
    worker.join(timeout=120)
    assert done.is_set(), "INSERT never completed after lock release"
    n = sess.execute("SELECT count(*) AS n FROM t_lock_probe").collect()[0].n
    assert n == 7
    spark.sql("DROP TABLE t_lock_probe")


def test_commit_partial_publish_failure_is_loud(spark, monkeypatch):
    """A mid-loop publish failure must raise an error naming exactly which
    tables published and which staged changes were discarded — never a
    silent partial COMMIT."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_pub_a")
    _fresh_managed(spark, sess, "t_pub_b")
    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM t_pub_a WHERE n_nationkey = 0")
    sess.execute("DELETE FROM t_pub_b WHERE n_nationkey = 0")

    # fail the SECOND table's publish at its first step (reading the
    # staging copy), simulating a disk/executor error mid-loop
    calls = {"n": 0}
    orig_table = sess.spark.table

    def failing_table(name):
        if name.startswith("__txn_stage_"):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated disk failure")
        return orig_table(name)

    monkeypatch.setattr(sess.spark, "table", failing_table)
    with pytest.raises(ValueError, match="COMMIT failed mid-publish") as ei:
        sess.execute("COMMIT")
    msg = str(ei.value)
    assert "t_pub_a" in msg and "t_pub_b" in msg and "DISCARDED" in msg
    monkeypatch.setattr(sess.spark, "table", orig_table)
    # the session is usable afterwards and the first table really published
    assert sess.execute("SELECT count(*) AS n FROM t_pub_a").collect()[0].n == 5
    assert sess.execute("SELECT count(*) AS n FROM t_pub_b").collect()[0].n == 6
    spark.sql("DROP TABLE t_pub_a")
    spark.sql("DROP TABLE t_pub_b")


def test_prepare_body_saved_verbatim_inside_txn(spark):
    """A PREPARE inside a transaction must save the body VERBATIM — eager
    qualified-name rewriting would bake the ephemeral stage name into the
    prepared statement, dangling after COMMIT.  The rewrite happens when
    EXECUTE re-dispatches instead: in-txn EXECUTE sees staged data, and
    the same prepared statement still works after COMMIT."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_prep_verbatim")
    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM t_prep_verbatim WHERE n_nationkey >= 3")
    sess.execute(
        "PREPARE q_cnt FROM SELECT count(*) AS n FROM default.t_prep_verbatim"
    )
    assert "__txn_stage_" not in sess.prepared["q_cnt"], "body not verbatim"
    assert sess.execute("EXECUTE q_cnt").collect()[0].n == 3  # staged view
    sess.execute("COMMIT")
    assert sess.execute("EXECUTE q_cnt").collect()[0].n == 3  # base, post-publish
    spark.sql("DROP TABLE t_prep_verbatim")


# -- r7 self-review fixes (post-certification adversarial pass) -------------


def test_txn_quoted_qualified_spellings(spark):
    """Backtick-quoted qualified spellings must hit the staging copy;
    double-quoted tokens are string literals in Spark and must NOT be
    rewritten; a different catalog's `x.default.t` must not match."""
    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_txn_bt")
    sess.execute("START TRANSACTION")
    try:
        sess.execute("DELETE FROM t_txn_bt WHERE n_nationkey >= 3")
        for spelling in (
            "`default`.`t_txn_bt`",
            "default.`t_txn_bt`",
            "`default`.t_txn_bt",
            "`spark_catalog`.`default`.`t_txn_bt`",
        ):
            n = sess.execute(f"SELECT count(*) AS n FROM {spelling}").collect()[0].n
            assert n == 3, f"{spelling} bypassed the staging shadow"
        # double-quoted token = string literal: untouched
        lit = sess.execute('SELECT "default.t_txn_bt" AS s').collect()[0].s
        assert lit == "default.t_txn_bt"
        # foreign-catalog spelling must not be rewritten (helper-level check:
        # the name survives verbatim)
        out = sess._txn_rewrite_qualified("SELECT * FROM my_cat.default.t_txn_bt")
        assert "my_cat.default.t_txn_bt" in out
        out2 = sess._txn_rewrite_qualified("SELECT * FROM xdefault.t_txn_bt")
        assert "xdefault.t_txn_bt" in out2
    finally:
        sess.execute("ROLLBACK")
    spark.sql("DROP TABLE t_txn_bt")


def test_merge_insert_check_uses_logical_table_inside_txn(spark):
    """MERGE's extra INSERT-privilege check must name the logical table
    when the in-txn qualified rewrite already turned the target into its
    staging copy — grants never exist on stage names."""
    from sensql_presto_spark.access import AccessControl

    store = AccessControl()
    admin = StatementSession(spark, SF, user="admin", access=store, enforce_access=True)
    _fresh_managed(spark, admin, "t_merge_acl")
    store.grant(["SELECT", "UPDATE", "INSERT", "DELETE"], "t_merge_acl",
                "USER", "bob", "admin", True)
    bob = StatementSession(spark, SF, user="bob", access=store, enforce_access=True)
    bob.execute("START TRANSACTION")
    bob.execute("DELETE FROM t_merge_acl WHERE n_nationkey = 0")  # stages it
    bob.execute(
        "MERGE INTO default.t_merge_acl t USING "
        "(SELECT 42 AS k, 4 AS r) s ON t.n_nationkey = s.k "
        "WHEN MATCHED THEN UPDATE SET n_regionkey = s.r "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_regionkey) VALUES (s.k, s.r)"
    )
    bob.execute("COMMIT")
    keys = sorted(
        r.n_nationkey
        for r in bob.execute("SELECT n_nationkey FROM t_merge_acl").collect()
    )
    assert keys == [1, 2, 3, 4, 5, 42]
    spark.sql("DROP TABLE t_merge_acl")


def test_commit_publish_counts_overwrite_as_published(spark, monkeypatch):
    """A failure AFTER a table's overwrite (e.g. REFRESH throwing) must
    not mis-report that table as discarded, and its generation bump must
    still happen so other sessions drop the dead file listing."""
    from sensql_presto_spark import statements as st

    sess = _sess(spark)
    _fresh_managed(spark, sess, "t_pub_c")
    sess.execute("START TRANSACTION")
    sess.execute("DELETE FROM t_pub_c WHERE n_nationkey = 0")
    g0 = st._TABLE_GENERATIONS.get("t_pub_c", 0)

    orig_sql = sess.spark.sql

    def failing_sql(q, **kw):
        if q.strip().upper().startswith("REFRESH TABLE T_PUB_C"):
            raise RuntimeError("simulated refresh failure")
        return orig_sql(q, **kw)

    monkeypatch.setattr(sess.spark, "sql", failing_sql)
    with pytest.raises(ValueError, match="COMMIT failed mid-publish") as ei:
        sess.execute("COMMIT")
    monkeypatch.setattr(sess.spark, "sql", orig_sql)
    msg = str(ei.value)
    assert "t_pub_c were already published" in msg.replace("table(s) ", ""), msg
    assert st._TABLE_GENERATIONS.get("t_pub_c", 0) == g0 + 1, "generation not bumped"
    assert sess.execute("SELECT count(*) AS n FROM t_pub_c").collect()[0].n == 5
    spark.sql("DROP TABLE t_pub_c")
