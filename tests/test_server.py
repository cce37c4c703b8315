"""HTTP SQL server protocol tests (SURVEY.md §3.1; reference
QueuedStatementResource.java / ExecutingStatementResource.java semantics).

A real client loop: POST the statement, follow every ``nextUri`` until the
document has none, accumulate ``data`` pages — exactly what
presto-client's StatementClient does.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import time
import urllib.request

import pytest

from sensql_presto_spark import server as srv


@pytest.fixture(scope="module")
def sql_server(spark, oracle_dir):
    s = srv.SqlServer(spark, oracle_dir).start()
    yield s
    s.stop()


def _http(method: str, url: str, body: bytes | None = None) -> tuple[int, dict | None]:
    req = urllib.request.Request(url, data=body, method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            payload = resp.read()
            return resp.status, (json.loads(payload) if payload else None)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def run_query(s: srv.SqlServer, sql: str, deadline: float = 120.0):
    """StatementClient loop: submit, then chase nextUri to completion."""
    base = f"http://127.0.0.1:{s.port}"
    status, doc = _http("POST", f"{base}/v1/statement", sql.encode())
    assert status == 200
    columns, rows = None, []
    t0 = time.time()
    while True:
        if doc.get("columns"):
            columns = doc["columns"]
        rows.extend(doc.get("data", []))
        if "error" in doc:
            return doc["error"], columns, rows
        nxt = doc.get("nextUri")
        if nxt is None:
            return None, columns, rows
        assert time.time() - t0 < deadline, "query did not finish in time"
        if doc["stats"]["state"] in ("QUEUED", "RUNNING"):
            time.sleep(0.05)
        status, doc = _http("GET", nxt)
        assert status == 200


def test_select_roundtrip(sql_server):
    err, cols, rows = run_query(sql_server, "SELECT 1 AS x, 'a' AS s, 2.5 AS d")
    assert err is None
    assert [c["name"] for c in cols] == ["x", "s", "d"]
    assert [c["type"] for c in cols] == ["integer", "varchar", "decimal(2,1)"]
    assert rows == [[1, "a", "2.5"]]


def test_catalog_query_and_types(sql_server):
    err, cols, rows = run_query(
        sql_server,
        """SELECT n_nationkey, n_name, n_nationkey * 1.0e0 AS keyd
           FROM nation ORDER BY n_nationkey LIMIT 5""",
    )
    assert err is None
    assert [c["type"] for c in cols] == ["integer", "varchar", "double"]
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]


def test_paging_multiple_documents(sql_server, monkeypatch):
    monkeypatch.setattr(srv, "PAGE_ROWS", 100)
    err, _, rows = run_query(
        sql_server, "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 350"
    )
    assert err is None
    assert len(rows) == 350
    keys = [r[0] for r in rows]
    assert keys == sorted(keys)  # pages arrive in order, no row lost or repeated


def test_error_surfaces_as_query_error(sql_server):
    err, _, _ = run_query(sql_server, "SELECT * FROM no_such_table_xyz")
    assert err is not None
    assert "no_such_table_xyz" in err["message"].lower() or err["errorName"]


def test_empty_statement_rejected(sql_server):
    status, doc = _http(
        "POST", f"http://127.0.0.1:{sql_server.port}/v1/statement", b"   "
    )
    assert status == 400
    assert "empty" in doc["error"]["message"]


def test_cancel(sql_server):
    base = f"http://127.0.0.1:{sql_server.port}"
    status, doc = _http(
        "POST",
        f"{base}/v1/statement",
        b"SELECT count(*) FROM lineitem l1 CROSS JOIN lineitem l2 CROSS JOIN lineitem l3",
    )
    assert status == 200
    qid = doc["id"]
    status, _ = _http("DELETE", f"{base}/v1/statement/executing/{qid}/0")
    assert status == 204
    status, doc = _http("GET", f"{base}/v1/statement/executing/{qid}/0")
    assert doc["stats"]["state"] in ("CANCELED", "FINISHED")


def test_info_endpoint(sql_server):
    status, doc = _http("GET", f"http://127.0.0.1:{sql_server.port}/v1/info")
    assert status == 200
    assert doc["coordinator"] is True


def test_complex_types_serialize(sql_server):
    err, cols, rows = run_query(
        sql_server,
        "SELECT array(1, 2) AS arr, map('k', 1) AS m, named_struct('a', 1) AS st, "
        "to_timestamp('2021-01-02 03:04:05') AS ts",
    )
    assert err is None
    types = {c["name"]: c["type"] for c in cols}
    assert types["arr"] == "array(integer)"
    assert types["m"] == "map(varchar, integer)"
    assert types["st"] == "row(a integer)"
    assert types["ts"] == "timestamp"
    assert rows[0][0] == [1, 2]
    assert rows[0][3] == "2021-01-02 03:04:05"


def test_presto_compat_functions_available(sql_server):
    # prepare_session installs the compat layer: Presto spellings work over HTTP
    err, _, rows = run_query(
        sql_server, "SELECT strpos('hello', 'll') AS p, to_hex(unhex('0F')) AS h"
    )
    assert err is None
    assert rows[0][0] == 3


def _run_query_as(s: srv.SqlServer, sql: str, user: str):
    """Like run_query but with an X-Presto-User identity header."""
    return _run_with_stats(s, sql, user)[:2]


def _run_with_stats(s: srv.SqlServer, sql: str, user: str):
    """_run_query_as plus the stats of the query's last document."""
    base = f"http://127.0.0.1:{s.port}"
    req = urllib.request.Request(
        f"{base}/v1/statement",
        data=sql.encode(),
        method="POST",
        headers={"X-Presto-User": user},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        doc = json.loads(resp.read())
    rows = []
    t0 = time.time()
    while True:
        rows.extend(doc.get("data", []))
        if "error" in doc:
            return doc["error"], rows, doc["stats"]
        nxt = doc.get("nextUri")
        if nxt is None:
            return None, rows, doc["stats"]
        assert time.time() - t0 < 120
        if doc["stats"]["state"] in ("QUEUED", "RUNNING"):
            time.sleep(0.05)
        status, doc = _http("GET", nxt)
        assert status == 200


def test_prepare_namespace_scoped_per_client(sql_server):
    """Two clients' PREPARE names don't collide (reference scopes prepared
    statements to Session state in QueryPreparer)."""
    err, _ = _run_query_as(sql_server, "PREPARE p1 FROM SELECT 1 AS one", "alice")
    assert err is None
    # alice can execute her statement
    err, rows = _run_query_as(sql_server, "EXECUTE p1", "alice")
    assert err is None and rows == [[1]]
    # bob does not see alice's prepared statement
    err, _ = _run_query_as(sql_server, "EXECUTE p1", "bob")
    assert err is not None and "not found" in err["message"]
    # bob can claim the same name independently
    err, _ = _run_query_as(sql_server, "PREPARE p1 FROM SELECT 2 AS two", "bob")
    assert err is None
    err, rows = _run_query_as(sql_server, "EXECUTE p1", "bob")
    assert err is None and rows == [[2]]
    # alice's binding is unchanged
    err, rows = _run_query_as(sql_server, "EXECUTE p1", "alice")
    assert err is None and rows == [[1]]


def test_set_session_scoped_per_client(sql_server):
    """SET SESSION is Session state (SystemSessionProperties), not server
    state: each client runs on a forked SparkSession with its own SQLConf,
    so alice's override is invisible to bob and RESET restores only hers."""
    err, rows = _run_query_as(sql_server, "SHOW SESSION", "bob")
    assert err is None
    bob_before = {r[0]: r[1] for r in rows}["hash_partition_count"]

    err, _ = _run_query_as(sql_server, "SET SESSION hash_partition_count = 7", "alice")
    assert err is None
    err, rows = _run_query_as(sql_server, "SHOW SESSION", "alice")
    assert err is None
    assert {r[0]: r[1] for r in rows}["hash_partition_count"] == "7"
    # bob's view is unchanged — no process-global leak
    err, rows = _run_query_as(sql_server, "SHOW SESSION", "bob")
    assert err is None
    assert {r[0]: r[1] for r in rows}["hash_partition_count"] == bob_before
    # and alice's RESET restores her default without touching bob
    err, _ = _run_query_as(sql_server, "RESET SESSION hash_partition_count", "alice")
    assert err is None
    err, rows = _run_query_as(sql_server, "SHOW SESSION", "alice")
    assert err is None
    assert {r[0]: r[1] for r in rows}["hash_partition_count"] == bob_before


def test_temp_views_scoped_per_client(sql_server):
    """Forked sessions isolate the temp-object namespace too: a view one
    client creates is not visible to another (reference: temp objects live
    in Session, not the shared catalog)."""
    err, _ = _run_query_as(
        sql_server, "CREATE OR REPLACE TEMPORARY VIEW my_v AS SELECT 41 AS x", "alice"
    )
    assert err is None
    err, rows = _run_query_as(sql_server, "SELECT x + 1 FROM my_v", "alice")
    assert err is None and rows == [[42]]
    err, _ = _run_query_as(sql_server, "SELECT * FROM my_v", "bob")
    assert err is not None


def test_client_conf_governs_catalog_view_scans(sql_server):
    """A client's own SQLConf governs scans of the catalog views: a cloned
    session reads through views registered in itself, not through the
    template's, whose file scans would keep the template's conf."""
    err, _ = _run_query_as(sql_server, "SELECT count(*) FROM lineitem", "conf_c")
    assert err is None
    client = sql_server._sessions["conf_c"].spark
    splits_before = client.table("lineitem").rdd.getNumPartitions()
    for stmt in (
        "SET spark.sql.files.maxPartitionBytes=65536",
        "SET spark.sql.files.openCostInBytes=0",
    ):
        err, _ = _run_query_as(sql_server, stmt, "conf_c")
        assert err is None, err
    assert client.table("lineitem").rdd.getNumPartitions() > splits_before


def test_explain_analyze_over_http(sql_server):
    """EXPLAIN ANALYZE goes through the statement dispatcher like every other
    EXPLAIN type: it runs the query and returns per-operator metrics."""
    err, cols, rows = run_query(sql_server, "EXPLAIN ANALYZE SELECT count(*) FROM nation")
    assert err is None
    assert [c["name"] for c in cols] == ["operator_id", "operator", "metric", "value"]
    assert any("Scan" in r[1] for r in rows)
    assert any(r[2] == "number of output rows" and r[3] == 25 for r in rows)


def test_query_info_endpoint(sql_server):
    """GET /v1/query/{id} — the infoUri target (QueryResource.getQueryInfo)."""
    base = f"http://127.0.0.1:{sql_server.port}"
    status, doc = _http("POST", f"{base}/v1/statement", b"SELECT 1 AS one")
    assert status == 200
    qid = doc["id"]
    # poll info until terminal
    t0 = time.time()
    while True:
        status, info = _http("GET", f"{base}/v1/query/{qid}")
        assert status == 200
        if info["state"] in ("FINISHED", "FAILED"):
            break
        assert time.time() - t0 < 120
        time.sleep(0.05)
    assert info["queryId"] == qid and info["query"] == "SELECT 1 AS one"
    assert info["state"] == "FINISHED" and info["errorMessage"] is None
    status, _ = _http("GET", f"{base}/v1/query/q_nope")
    assert status == 404


def test_admission_control_queues_beyond_limit(spark, oracle_dir):
    """max_concurrent=1: the second query holds in QUEUED until the first
    slot frees (InternalResourceGroup.hardConcurrencyLimit analog)."""
    s = srv.SqlServer(spark, oracle_dir, max_concurrent=1).start()
    try:
        # a deliberately slow first query (cartesian-ish aggregation)
        q1 = s.submit(
            "SELECT count(*) AS n FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey"
        )
        time.sleep(0.3)  # let q1 claim the slot
        q2 = s.submit("SELECT 1 AS one")
        time.sleep(0.4)
        with q2.lock:
            state_while_held = q2.state
        # q2 must not have run while q1 held the only slot (it may have
        # QUEUED->RUNNING only if q1 already finished — check q1 then)
        with q1.lock:
            q1_state = q1.state
        if q1_state == "RUNNING":
            assert state_while_held == "QUEUED"
        # both eventually finish
        t0 = time.time()
        while True:
            with q2.lock:
                if q2.state == "FINISHED":
                    break
            assert time.time() - t0 < 120
            time.sleep(0.1)
    finally:
        s.stop()


def test_enforced_access_control_over_http(spark, oracle_dir):
    """enforce_access=True server: an ungranted client is denied, an admin
    GRANT over HTTP opens access, REVOKE closes it again — the protocol
    surface of AccessControlManager enforcement."""
    s = srv.SqlServer(spark, oracle_dir, enforce_access=True).start()
    try:
        err, _ = _run_query_as(s, "SELECT count(*) FROM nation", "eve")
        assert err is not None and "Access Denied" in err["message"]
        err, _ = _run_query_as(s, "EXPLAIN ANALYZE SELECT count(*) FROM nation", "eve")
        assert err is not None and "Access Denied" in err["message"]
        err, _ = _run_query_as(s, "GRANT SELECT ON nation TO USER eve", "admin")
        assert err is None
        err, rows = _run_query_as(s, "SELECT count(*) AS n FROM nation", "eve")
        assert err is None and rows == [[25]]
        err, _ = _run_query_as(s, "REVOKE SELECT ON nation FROM USER eve", "admin")
        assert err is None
        err, _ = _run_query_as(s, "SELECT count(*) FROM nation", "eve")
        assert err is not None and "Access Denied" in err["message"]
    finally:
        s.stop()


def test_call_kill_query_over_http(spark, oracle_dir):
    """CALL system.runtime.kill_query cancels a running query — the
    coordinator-bound procedure (KillQueryProcedure.java)."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        q = s.submit(
            "SELECT count(*) FROM lineitem l1 CROSS JOIN lineitem l2 CROSS JOIN lineitem l3"
        )
        time.sleep(0.2)
        err, _ = _run_query_as(
            s, f"CALL system.runtime.kill_query('{q.query_id}')", "admin"
        )
        assert err is None
        with q.lock:
            assert q.state in ("CANCELED", "FINISHED")
        err, _ = _run_query_as(s, "CALL system.runtime.kill_query('nope')", "admin")
        assert err is not None and "not found" in err["message"].lower()
    finally:
        s.stop()


def test_idle_sessions_evict_lru(spark, oracle_dir):
    """The per-client session map is bounded: beyond MAX_CLIENT_SESSIONS
    the least-recently-used client's session drops (idle-session expiry
    analog) — its session state resets, while durable state survives."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        s.MAX_CLIENT_SESSIONS = 3
        err, _ = _run_query_as(s, "PREPARE pe FROM SELECT 1 AS one", "u0")
        assert err is None
        for i in range(1, 4):  # three newer clients push u0 out
            err, _ = _run_query_as(s, "SELECT 1", f"u{i}")
            assert err is None
        assert len(s._sessions) == 3 and "u0" not in s._sessions
        # u0's session state reset: referencing the dropped PREPARE raises
        # the loud session-expired contract, not a plain not-found
        err, _ = _run_query_as(s, "EXECUTE pe", "u0")
        assert err is not None and "Session expired" in err["message"]
        # a name that never existed in the fresh session is a plain
        # not-found again once the expiry was surfaced... (the expired flag
        # is per-session-instance, set only on the post-eviction rebuild)
        err, _ = _run_query_as(s, "PREPARE pe2 FROM SELECT 3 AS x", "u0")
        assert err is None
        # frequent use keeps a client resident (LRU, not FIFO)
        err, _ = _run_query_as(s, "PREPARE pk FROM SELECT 2 AS two", "hot")
        assert err is None
        for i in range(4, 6):
            _run_query_as(s, "SELECT 1", f"u{i}")
            err, rows = _run_query_as(s, "EXECUTE pk", "hot")  # touch
            assert err is None and rows == [[2]]
    finally:
        s.stop()


def test_eviction_skips_in_transaction_sessions(spark, oracle_dir):
    """A session with an open transaction is never LRU-evicted (evicting it
    would silently discard the txn and orphan its backup tables); it expires
    only after COMMIT/ROLLBACK."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        s.MAX_CLIENT_SESSIONS = 2
        err, _ = _run_query_as(s, "START TRANSACTION", "txer")
        assert err is None
        for i in range(4):  # would evict txer under plain LRU
            err, _ = _run_query_as(s, "SELECT 1", f"w{i}")
            assert err is None
        assert "txer" in s._sessions, "in-txn session must survive eviction pressure"
        err, _ = _run_query_as(s, "COMMIT", "txer")
        assert err is None
        for i in range(4, 8):
            _run_query_as(s, "SELECT 1", f"w{i}")
        assert "txer" not in s._sessions, "post-commit the session expires normally"
    finally:
        s.stop()


def test_cross_client_transaction_isolation_over_http(spark, oracle_dir):
    """READ COMMITTED between HTTP clients (r6 staging-based txns): an
    open transaction's DELETE is visible to the writer (read-your-writes
    via its session's staging shadow) but INVISIBLE to a concurrent
    client until COMMIT publishes; a brand-new client after COMMIT also
    sees the published data (generation-counter cache refresh)."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        err, _ = _run_query_as(
            s, "CREATE TABLE t_http_iso AS SELECT n_nationkey FROM nation", "w"
        )
        assert err is None
        err, _ = _run_query_as(s, "START TRANSACTION", "w")
        assert err is None
        err, _ = _run_query_as(s, "DELETE FROM t_http_iso WHERE n_nationkey >= 5", "w")
        assert err is None
        err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_iso", "w")
        assert err is None and rows == [[5]]
        err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_iso", "r")
        assert err is None and rows == [[25]], "dirty read leaked to another client"
        err, _ = _run_query_as(s, "COMMIT", "w")
        assert err is None
        err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_iso", "r")
        assert err is None and rows == [[5]]
        err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_iso", "fresh")
        assert err is None and rows == [[5]]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_http_iso")
        s.stop()


def test_txn_saturation_rejects_new_clients_loudly(spark, oracle_dir):
    """70-open-transaction churn: in-txn sessions are exempt from LRU
    eviction, so without a hard cap the session map would grow without
    bound.  Once open-txn holders alone reach HARD_MAX_SESSIONS, a NEW
    client is rejected with the loud TOO_MANY_SESSIONS error (never
    admitted silently, never force-evicting a transaction); one COMMIT
    frees a slot and admission resumes."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        # shrink the caps so the 70-client churn stays fast; the policy
        # under test is identical at the production 64/64 values
        s.MAX_CLIENT_SESSIONS = 8
        s.HARD_MAX_SESSIONS = 16
        admitted, rejected = [], []
        for i in range(70):
            err, _ = _run_query_as(s, "START TRANSACTION", f"t{i}")
            if err is None:
                admitted.append(f"t{i}")
            else:
                assert "TOO_MANY_SESSIONS" in err["message"], err
                assert err["errorName"] == "TooManySessionsError"
                rejected.append(f"t{i}")
        # exactly the hard cap was admitted; everyone else got the loud
        # error and the map stayed bounded
        assert len(admitted) == 16 and len(rejected) == 54
        assert len(s._sessions) <= s.HARD_MAX_SESSIONS
        # every admitted transaction is still alive (none force-evicted)
        assert all(c in s._sessions for c in admitted)
        # an in-txn holder keeps working while the server is saturated
        err, rows = _run_query_as(s, "SELECT 7 AS x", admitted[0])
        assert err is None and rows == [[7]]
        # COMMIT one -> a previously-rejected client is admitted again
        err, _ = _run_query_as(s, "COMMIT", admitted[0])
        assert err is None
        err, _ = _run_query_as(s, "START TRANSACTION", "late")
        assert err is None
        err, _ = _run_query_as(s, "ROLLBACK", "late")
        assert err is None
    finally:
        s.stop()


def test_kill_query_cancels_spark_jobs(spark, oracle_dir):
    """KILL actually cancels the Spark jobs (job-group cancel), so a
    long-running collect stops well before it would finish on its own —
    KillQueryProcedure cancels execution, not just protocol state."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        q = s.submit(
            "SELECT count(*) FROM lineitem l1 CROSS JOIN lineitem l2 CROSS JOIN lineitem l3"
        )
        # wait for it to be RUNNING (job group set in its thread)
        t0 = time.time()
        while True:
            with q.lock:
                if q.state == "RUNNING":
                    break
            assert time.time() - t0 < 30
            time.sleep(0.05)
        time.sleep(0.3)
        s._kill_query(q.query_id)
        with q.lock:
            assert q.state == "CANCELED"
        # the canceled query must never flip to FAILED/FINISHED afterwards
        time.sleep(1.0)
        with q.lock:
            assert q.state == "CANCELED"
    finally:
        s.stop()


def test_write_write_conflict_over_http(spark, oracle_dir):
    """Protocol-level pin for first-committer-wins (late r6): two HTTP
    clients transact over the same table; the first COMMIT publishes,
    the second COMMIT surfaces TRANSACTION_CONFLICT through the Presto
    error envelope, and both clients then read the winner's state."""
    s = srv.SqlServer(spark, oracle_dir).start()
    try:
        err, _ = _run_query_as(
            s, "CREATE TABLE t_http_ww AS SELECT n_nationkey FROM nation", "w1"
        )
        assert err is None
        for who in ("w1", "w2"):
            err, _ = _run_query_as(s, "START TRANSACTION", who)
            assert err is None
        err, _ = _run_query_as(s, "DELETE FROM t_http_ww WHERE n_nationkey >= 20", "w1")
        assert err is None
        err, _ = _run_query_as(s, "DELETE FROM t_http_ww WHERE n_nationkey >= 10", "w2")
        assert err is None
        err, _ = _run_query_as(s, "COMMIT", "w1")
        assert err is None
        err, _ = _run_query_as(s, "COMMIT", "w2")
        assert err is not None and "TRANSACTION_CONFLICT" in str(err)
        for who in ("w1", "w2"):
            err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_ww", who)
            assert err is None and rows == [[20]], who
    finally:
        spark.sql("DROP TABLE IF EXISTS t_http_ww")
        s.stop()


def test_retried_page_fetch_repeats_the_page(sql_server):
    """Tokens as in ExecutingStatementResource: re-sending the last served
    token returns the same page again (a client retrying a lost response
    loses no rows), and any other stale or made-up token is 410 Gone."""
    base = f"http://127.0.0.1:{sql_server.port}"
    status, doc = _http(
        "POST",
        f"{base}/v1/statement",
        b"SELECT id FROM range(2500) ORDER BY id",
    )
    assert status == 200
    qid = doc["id"]
    uri = f"{base}/v1/statement/executing/{qid}/0"  # the submit response is token 0
    t0 = time.time()
    while "data" not in doc:
        assert "error" not in doc and doc.get("nextUri"), doc
        assert time.time() - t0 < 120, "query did not finish in time"
        time.sleep(0.05)
        uri = doc["nextUri"]
        status, doc = _http("GET", uri)
        assert status == 200
    first = doc

    status, again = _http("GET", uri)  # retry the fetch that served page one
    assert status == 200
    assert again["data"] == first["data"] and again["nextUri"] == first["nextUri"]

    rows = list(first["data"])
    served = [uri]
    doc = first
    while doc.get("nextUri"):
        served.append(doc["nextUri"])
        status, doc = _http("GET", doc["nextUri"])
        assert status == 200
        rows.extend(doc.get("data", []))
    assert rows == [[i] for i in range(2500)]  # every row exactly once, in order

    assert _http("GET", served[0])[0] == 410  # a stale token
    assert _http("GET", f"{base}/v1/statement/executing/{qid}/99")[0] == 410
    assert _http("GET", f"{base}/v1/statement/executing/{qid}/x")[0] == 410


def test_server_prepares_the_surface_once(spark, oracle_dir, monkeypatch):
    """The engine surface is installed once, at server start; each new
    client's session is cloned from it and sees every function family, and
    a client first seen after another client's COMMIT reads the committed
    rows (the clone carries no stale relation cache)."""
    from sensql_presto_spark import cli

    calls = []
    prepare = cli.prepare_session

    def counting_prepare(session, sf_dir):
        calls.append(sf_dir)
        prepare(session, sf_dir)

    monkeypatch.setattr(cli, "prepare_session", counting_prepare)
    s = srv.SqlServer(spark, oracle_dir).start()
    calls.clear()
    surface = (
        "SELECT st_area('POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))') AS a,"
        " ip_subnet_min('192.168.7.0/24') AS ip,"
        " value_at_quantile(array(0D, 10D, 20D), 0.5) AS q,"
        " any_match(array(1, 2, 3), x -> x > 2) AS m"
    )
    try:
        err, rows = _run_query_as(s, surface, "once_w")
        assert err is None and rows == [[4.0, "192.168.7.0", 10.0, True]], err
        for stmt in (
            "CREATE TABLE t_http_once AS SELECT n_nationkey FROM nation",
            "SELECT count(*) FROM t_http_once",
            "START TRANSACTION",
            "INSERT INTO t_http_once VALUES (100), (101)",
            "COMMIT",
        ):
            err, _ = _run_query_as(s, stmt, "once_w")
            assert err is None, (stmt, err)
        # two clients first seen after the COMMIT
        for client in ("once_r", "once_late"):
            err, rows = _run_query_as(s, surface, client)
            assert err is None and rows == [[4.0, "192.168.7.0", 10.0, True]], (client, err)
            err, rows = _run_query_as(s, "SELECT count(*) AS n FROM t_http_once", client)
            assert err is None and rows == [[27]], (client, err)
        assert calls == []
    finally:
        spark.sql("DROP TABLE IF EXISTS t_http_once")
        s.stop()


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_malformed_content_length_is_rejected(sql_server, length):
    """A Content-Length that is not a non-negative integer gets HTTP 400,
    neither a dropped connection nor a read that waits for the client to
    hang up."""
    with socket.create_connection(("127.0.0.1", sql_server.port), timeout=10) as sock:
        sock.sendall(
            f"POST /v1/statement HTTP/1.1\r\nHost: x\r\nContent-Length: {length}\r\n\r\n"
            "SELECT 1".encode()
        )
        reply = sock.recv(65536)
    assert reply.split(b" ", 2)[1] == b"400", reply


def test_query_history_keeps_the_newest_finished_queries(sql_server):
    """At most 100 done queries (Presto's query.max-history default) stay
    in the map, oldest out first; a forgotten id answers exactly like an
    unknown one. Queries whose clients are still reading are not done and
    do not count (test_history_keeps_a_query_its_client_is_still_reading)."""
    base = f"http://127.0.0.1:{sql_server.port}"
    first = run_query(sql_server, "SELECT 'first' AS q")
    assert first[0] is None
    oldest = next(q for q in sql_server.queries.values() if q.sql == "SELECT 'first' AS q")
    for i in range(105):
        assert run_query(sql_server, f"SELECT {i} AS i")[0] is None
    now = time.monotonic()
    done = [q for q in sql_server.queries.values() if q.ended is not None and q.done(now)]
    assert len(done) <= 100
    assert oldest.query_id not in sql_server.queries
    for path in (f"statement/executing/{oldest.query_id}/1", f"query/{oldest.query_id}"):
        gone = _http("GET", f"{base}/v1/{path}")
        unknown = _http("GET", f"{base}/v1/{path.replace(oldest.query_id, 'q_000000000000')}")
        assert gone == unknown == (404, {"error": {"message": "unknown query"}})
    assert _http("DELETE", f"{base}/v1/statement/executing/{oldest.query_id}/1")[0] == 404


def _find_query(s: srv.SqlServer, sql: str) -> srv.QueryExecution:
    return [q for q in s.queries.values() if q.sql == sql][-1]


def test_query_stats_report_times_and_cache_hits(sql_server):
    """queryStats carries Presto's elapsedTimeMillis and queuedTimeMillis and
    says whether the rows came from the result cache: a repeated SELECT is a
    hit sharing the stored rows, a read after an INSERT into its table is a
    miss, for the writer and for another client."""
    read = "SELECT count(*) AS n FROM t_http_cache"
    try:
        err, _ = _run_query_as(
            sql_server, "CREATE TABLE t_http_cache AS SELECT n_nationkey FROM nation", "cw"
        )
        assert err is None
        err, rows, stats = _run_with_stats(sql_server, read, "cw")
        assert err is None and rows == [[25]] and stats["resultCacheHit"] is False
        assert 0 <= stats["queuedTimeMillis"] <= stats["elapsedTimeMillis"]
        err, rows, stats = _run_with_stats(sql_server, read, "cw")
        assert err is None and rows == [[25]] and stats["resultCacheHit"] is True
        assert 0 <= stats["queuedTimeMillis"] <= stats["elapsedTimeMillis"]
        hit = _find_query(sql_server, read)
        err, rows, stats = _run_with_stats(sql_server, read, "cr")  # another client
        assert err is None and rows == [[25]] and stats["resultCacheHit"] is True
        assert _find_query(sql_server, read).rows is hit.rows  # shared, not copied

        err, _ = _run_query_as(sql_server, "INSERT INTO t_http_cache VALUES (100), (101)", "cw")
        assert err is None
        err, rows, stats = _run_with_stats(sql_server, read, "cw")
        assert err is None and rows == [[27]] and stats["resultCacheHit"] is False
        err, rows, stats = _run_with_stats(sql_server, read, "cr")
        assert err is None and rows == [[27]]
    finally:
        sql_server.spark.sql("DROP TABLE IF EXISTS t_http_cache")


@pytest.mark.parametrize("fn", ["rand()", "uuid()", "nd_token()"])
def test_nondeterministic_statements_are_never_cached(sql_server, fn):
    """rand() and uuid() get a fresh seed per analysis, so their plans never
    match; nd_token, a Python UDF marked nondeterministic, keeps one plan,
    so only the determinism check keeps it from being served twice."""
    from pyspark.sql import functions as F

    sql_server._session_for("nd").spark.udf.register(
        "nd_token", F.udf(lambda: os.urandom(8).hex()).asNondeterministic()
    )
    sql = f"SELECT n_nationkey, {fn} AS r FROM nation ORDER BY n_nationkey"
    err, first, stats = _run_with_stats(sql_server, sql, "nd")
    assert err is None and stats["resultCacheHit"] is False
    err, second, stats = _run_with_stats(sql_server, sql, "nd")
    assert err is None and stats["resultCacheHit"] is False
    assert [r[1] for r in first] != [r[1] for r in second]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT count(*) AS n FROM range(7)",
        "SELECT n_name FROM nation WHERE n_nationkey < (SELECT max(id) FROM range(3)) ORDER BY 1",
    ],
)
def test_statements_over_other_leaves_are_never_cached(sql_server, sql):
    """A leaf that is neither a file source nor literal rows, in the main
    plan or only in a subquery, keeps the statement out of the cache."""
    for _ in range(2):
        err, rows, stats = _run_with_stats(sql_server, sql, "leaves")
        assert err is None and rows and stats["resultCacheHit"] is False


def test_set_that_changes_the_result_reads_fresh_rows(sql_server):
    """The session conf is part of the key: a SET whose effect is not in the
    plan (to_json's null fields) and one that is (the session time zone
    under a timestamp-to-string cast) both return fresh rows."""
    to_json = (
        "SELECT to_json(named_struct('a', CASE WHEN n_nationkey < 0 THEN 1 END, "
        "'k', n_nationkey)) AS j FROM nation WHERE n_nationkey = 0"
    )
    as_string = "SELECT CAST(ts AS STRING) AS s FROM events ORDER BY event_id LIMIT 1"
    assert _run_with_stats(sql_server, to_json, "conf_k")[1] == [['{"k":0}']]
    assert _run_with_stats(sql_server, to_json, "conf_k")[2]["resultCacheHit"] is True
    stmt = "SET spark.sql.jsonGenerator.ignoreNullFields=false"
    assert _run_query_as(sql_server, stmt, "conf_k")[0] is None
    err, rows, stats = _run_with_stats(sql_server, to_json, "conf_k")
    assert rows == [['{"a":null,"k":0}']] and stats["resultCacheHit"] is False

    utc = _run_with_stats(sql_server, as_string, "conf_k")[1]
    stmt = "SET spark.sql.session.timeZone=America/New_York"
    assert _run_query_as(sql_server, stmt, "conf_k")[0] is None
    err, rows, stats = _run_with_stats(sql_server, as_string, "conf_k")
    assert err is None and rows != utc and stats["resultCacheHit"] is False


def test_redefined_temp_view_reads_fresh_rows(sql_server):
    read = "SELECT n_name FROM cache_v ORDER BY n_name"
    names = {}
    for region in (1, 2):
        err, _ = _run_query_as(
            sql_server,
            f"CREATE OR REPLACE TEMPORARY VIEW cache_v AS "
            f"SELECT n_name FROM nation WHERE n_regionkey = {region}",
            "view_c",
        )
        assert err is None
        err, names[region], stats = _run_with_stats(sql_server, read, "view_c")
        assert err is None and stats["resultCacheHit"] is False
    assert names[1] and names[2] and not set(map(tuple, names[1])) & set(map(tuple, names[2]))


def test_ungranted_user_is_denied_a_cached_statement(spark, oracle_dir):
    s = srv.SqlServer(spark, oracle_dir, enforce_access=True).start()
    try:
        sql = "SELECT count(*) AS n FROM nation"
        assert _run_with_stats(s, sql, "admin")[1] == [[25]]
        assert _run_with_stats(s, sql, "admin")[2]["resultCacheHit"] is True
        err, rows = _run_query_as(s, sql, "eve")
        assert err is not None and "Access Denied" in err["message"] and rows == []
    finally:
        s.stop()


def test_result_cache_bounds(sql_server, monkeypatch):
    """At most RESULT_CACHE_ENTRIES results and RESULT_CACHE_BYTES of JSON
    rows in all, least recently used out first; a result larger than the
    whole byte budget is not stored, however few its rows."""
    monkeypatch.setattr(srv, "RESULT_CACHE_ENTRIES", 3)
    lookups = [f"SELECT n_name FROM nation WHERE n_nationkey = {k}" for k in range(5)]
    for sql in lookups:
        assert _run_with_stats(sql_server, sql, "bounds")[0] is None
    assert len(sql_server._results) <= 3
    assert _run_with_stats(sql_server, lookups[-1], "bounds")[2]["resultCacheHit"] is True
    assert _run_with_stats(sql_server, lookups[0], "bounds")[2]["resultCacheHit"] is False

    # a one-name lookup is 10-20 bytes of JSON, all 25 names 300-odd
    monkeypatch.setattr(srv, "RESULT_CACHE_ENTRIES", 256)
    monkeypatch.setattr(srv, "RESULT_CACHE_BYTES", 200)
    lookups = [f"SELECT n_name FROM nation WHERE n_nationkey = {k}" for k in range(25)]
    for sql in lookups:
        assert _run_with_stats(sql_server, sql, "bounds")[0] is None
    results = sql_server._results
    assert results._bytes == sum(e[2] for e in results._entries.values())
    assert 0 < results._bytes <= 200 and len(results) < 25
    assert _run_with_stats(sql_server, lookups[-1], "bounds")[2]["resultCacheHit"] is True
    assert _run_with_stats(sql_server, lookups[0], "bounds")[2]["resultCacheHit"] is False
    long_read = "SELECT n_name FROM nation ORDER BY n_name"
    wide_read = "SELECT repeat(n_name, 40) AS w FROM nation WHERE n_nationkey = 1"
    for sql, n in ((long_read, 25), (wide_read, 1), (long_read, 25), (wide_read, 1)):
        err, rows, stats = _run_with_stats(sql_server, sql, "bounds")
        assert err is None and len(rows) == n and stats["resultCacheHit"] is False
    # a result over the budget displaced nothing
    assert _run_with_stats(sql_server, lookups[-1], "bounds")[2]["resultCacheHit"] is True


def test_hit_reports_the_current_statement_column_names(sql_server):
    """Plan matching ignores aliases, so a hit may come from a statement
    that named its columns differently; the client must get its own names."""
    first = "SELECT count(*) AS a FROM nation"
    second = "SELECT count(*) AS b FROM nation"
    err, cols, rows = run_query(sql_server, first)
    assert err is None and [c["name"] for c in cols] == ["a"] and rows == [[25]]
    err, cols, rows = run_query(sql_server, second)
    assert err is None and rows == [[25]]
    assert _find_query(sql_server, second).cached is True
    assert cols == [{"name": "b", "type": "bigint"}]
    view = "CREATE OR REPLACE TEMPORARY VIEW alias_v (c) AS SELECT count(*) FROM nation"
    assert run_query(sql_server, view)[0] is None
    err, cols, rows = run_query(sql_server, "SELECT * FROM alias_v")
    assert err is None and rows == [[25]] and [c["name"] for c in cols] == ["c"]
    assert _find_query(sql_server, "SELECT * FROM alias_v").cached is True


def test_history_keeps_a_query_its_client_is_still_reading(sql_server):
    """A finished query whose client has not read every page, or has not
    yet seen its final state, outlives 100+ other queries; once its client
    stops polling for CLIENT_TIMEOUT_S it is forgotten like a done one."""
    base = f"http://127.0.0.1:{sql_server.port}"
    status, doc = _http("POST", f"{base}/v1/statement", b"SELECT id FROM range(2500)")
    assert status == 200
    rows = []
    while "data" not in doc:
        time.sleep(0.05)
        status, doc = _http("GET", doc["nextUri"])
        assert status == 200
    rows += doc["data"]
    paged = doc["nextUri"]
    unread = sql_server.submit("SELECT 'unread' AS u")  # never polled
    silent = sql_server.submit("SELECT 'silent' AS u")
    for q in (unread, silent):
        while q.state != "FINISHED":
            time.sleep(0.05)
    for i in range(105):
        assert run_query(sql_server, f"SELECT {i} AS i")[0] is None
    assert unread.query_id in sql_server.queries and silent.query_id in sql_server.queries

    while paged:
        status, doc = _http("GET", paged)
        assert status == 200, doc
        rows += doc.get("data", [])
        paged = doc.get("nextUri")
    assert rows == [[i] for i in range(2500)]
    status, doc = _http("GET", f"{base}/v1/statement/executing/{unread.query_id}/0")
    assert status == 200 and doc["data"] == [["unread"]]

    silent.polled -= srv.CLIENT_TIMEOUT_S + 1
    assert run_query(sql_server, "SELECT 'one more' AS i")[0] is None
    assert silent.query_id not in sql_server.queries
    now = time.monotonic()
    assert sum(q.ended is not None and q.done(now) for q in sql_server.queries.values()) <= 100


@pytest.fixture(scope="module")
def copy_server(spark, oracle_dir, tmp_path_factory):
    """A server over a private copy of the tables, which tests rewrite."""
    sf_dir = tmp_path_factory.mktemp("sf")
    for name in os.listdir(oracle_dir):
        shutil.copy(os.path.join(oracle_dir, name), sf_dir / name)
    s = srv.SqlServer(spark, str(sf_dir)).start()
    yield s, sf_dir
    s.stop()


def test_rewritten_table_file_reads_fresh_rows(copy_server):
    import pyarrow.parquet as pq

    s, sf_dir = copy_server
    sql = "SELECT r_name FROM region ORDER BY r_regionkey"
    err, rows, _ = _run_with_stats(s, sql, "rw")
    assert err is None and len(rows) == 5
    assert _run_with_stats(s, sql, "rw")[2]["resultCacheHit"] is True
    path = str(sf_dir / "region.parquet")
    pq.write_table(pq.read_table(path).slice(0, 3), path)
    err, fresh, stats = _run_with_stats(s, sql, "rw")
    assert err is None and fresh == rows[:3] and stats["resultCacheHit"] is False



def test_part_file_added_to_a_table_directory_reads_fresh_rows(spark, oracle_dir, tmp_path):
    """Fault injection: a part file lands in a directory-backed table between
    two runs of one statement. The server neither serves the old rows nor
    stores them under the new file versions."""
    import pyarrow.parquet as pq

    for name in os.listdir(oracle_dir):
        if name != "region.parquet":
            os.symlink(os.path.join(oracle_dir, name), tmp_path / name)
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    region = pq.read_table(os.path.join(oracle_dir, "region.parquet"))
    pq.write_table(region, str(table_dir / "part-0.parquet"))
    s = srv.SqlServer(spark, str(tmp_path)).start()
    try:
        sql = "SELECT count(*) FROM region"
        assert _run_with_stats(s, sql, "parts")[:2] == (None, [[5]])
        assert _run_with_stats(s, sql, "parts")[2]["resultCacheHit"] is True
        pq.write_table(region.slice(0, 2), str(table_dir / "part-1.parquet"))
        err, rows, stats = _run_with_stats(s, sql, "parts")
        assert err is None and rows == [[7]] and stats["resultCacheHit"] is False
        err, rows, stats = _run_with_stats(s, sql, "parts")
        assert err is None and rows == [[7]] and stats["resultCacheHit"] is True
    finally:
        s.stop()

def _run_direct(s: srv.SqlServer, sql: str, client: str) -> srv.QueryExecution:
    """Run one statement on the calling thread, as a submitted one runs."""
    q = srv.QueryExecution(query_id=f"q_direct_{time.monotonic_ns()}", sql=sql, client=client)
    s.queries[q.query_id] = q
    s._run_admitted(q)
    return q


def _after_collect(monkeypatch, action) -> None:
    """Run ``action`` once, after Spark has returned a statement's rows and
    before the server stores them: a fault in that window."""
    real = srv._json_cell
    done = []

    def hook(v):
        if not done:
            done.append(True)
            action()
        return real(v)

    monkeypatch.setattr(srv, "_json_cell", hook)


def test_file_changed_during_execution_is_not_stored(copy_server, monkeypatch):
    s, sf_dir = copy_server
    sql = "SELECT n_name FROM nation WHERE n_regionkey = 3 ORDER BY n_name"
    path = str(sf_dir / "nation.parquet")
    st = os.stat(path)
    _after_collect(monkeypatch, lambda: os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9)))
    before = len(s._results)
    q = _run_direct(s, sql, "touch")
    assert q.state == "FINISHED" and len(q.rows) == 5
    assert len(s._results) == before
    monkeypatch.undo()
    assert _run_with_stats(s, sql, "touch")[2]["resultCacheHit"] is False
    assert _run_with_stats(s, sql, "touch")[2]["resultCacheHit"] is True


def test_cancelled_or_failed_statement_stores_nothing(copy_server, monkeypatch):
    s, _ = copy_server
    sql = "SELECT n_name FROM nation WHERE n_regionkey = 4 ORDER BY n_name"
    before = len(s._results)
    _after_collect(monkeypatch, lambda: s._kill_query(_find_query(s, sql).query_id))
    q = _run_direct(s, sql, "cancel")
    assert q.state == "CANCELED" and q.rows is None
    monkeypatch.undo()
    failed = _run_direct(s, "SELECT 1 / (n_nationkey - n_nationkey) FROM nation", "cancel")
    assert failed.state == "FAILED"
    assert len(s._results) == before
    assert _run_with_stats(s, sql, "cancel")[2]["resultCacheHit"] is False
