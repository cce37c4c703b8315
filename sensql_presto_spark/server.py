"""HTTP SQL entry point — the reference's primary query path (SURVEY.md §3.1).

Implements the Presto client REST protocol shape over the Spark engine:

- ``POST /v1/statement`` with the SQL text as the request body submits a
  query and returns the first response document with a ``nextUri``
  (reference: ``presto-main/.../server/protocol/QueuedStatementResource.java:103``).
- ``GET /v1/statement/executing/{id}/{token}`` pages through results —
  each document carries ``columns``, a ``data`` page, query ``stats`` and,
  until the result set is drained, the next ``nextUri``
  (reference: ``server/protocol/ExecutingStatementResource.java``; the
  client loop is ``presto-client/.../StatementClient``).
- ``DELETE /v1/statement/executing/{id}/{token}`` cancels
  (``QueuedStatementResource.java`` cancelQuery).
- ``GET /v1/info`` reports server info like ``server/ServerInfoResource``.

State machine per query: QUEUED → RUNNING → FINISHED | FAILED | CANCELED —
the same client-visible states the reference's ``QueryState`` exposes.

Execution is Spark-native, on a worker thread per query so the HTTP loop
never blocks on a Spark job.  ``cli.prepare_session`` installs the engine
surface once, on a private template session, and each client's session is
a clone of it — the reference's one function manager per coordinator with
a lightweight ``Session`` per client.  The template is prepared
concurrently: the catalog views register beside the function families,
which install side by side themselves.  Rows the engine makes itself
(statement acks such as PREPARE's, SHOW/DESCRIBE/EXPLAIN output,
``information_schema``) are Arrow ``LocalRelation``s
(``catalog.local_frame``), so answering them starts no Spark job and no
Python worker; a client's first statement pays for neither.

Result paging slices the *collected* driver-side rows — the reference's
protocol also pages from coordinator memory after the root fragment
drains (``TaskOutputOperator`` → coordinator buffer), so this matches the
protocol's memory model; queries
whose full result would not fit a driver belong behind INSERT/CTAS,
exactly as in the reference.

Repeated reads are served from a result cache: a statement that Spark
would answer with the same rows again gets the stored JSON rows of an
earlier run instead of a second Spark job (the reference's
``FileFragmentResultCacheManager``, at statement grain). Only rows are
stored: the column names and types always come from the current
statement's analyzed schema, because plan matching ignores aliases
(``count(*) AS a`` and ``count(*) AS b`` are one entry). A lookup happens
after ``StatementSession.execute`` has parsed, access-checked and analyzed
the statement, so an ungranted user is denied before any cached row is
seen. A hit needs all three parts of the key to match:

- the optimized logical plan, matched as Spark's CacheManager matches
  plans: bucketed by ``semanticHash()``, confirmed by ``sameResult()``;
- the session's explicitly set SQL conf, since some settings change what
  an unchanged plan returns;
- the version of every input file and of every directory its file index
  lists, ``catalog.input_versions`` (path, ``st_mtime_ns``, ``st_size``
  each), stat'ed before execution; a miss stores its result only if the
  stat after execution matches. The SenSQL engine reuses a resolved node
  relation by the same rule.

Only deterministic, non-streaming statements whose every plan node,
subqueries included, is no command, with at least one file-source leaf and
every leaf a ``HadoopFsRelation`` over local files, a ``LocalRelation`` or
a ``OneRowRelation``, are cached. Everything else runs as usual: DDL, DML,
SHOW, EXPLAIN, CALL, checkpointed (``LogicalRDD``) or cached
(``InMemoryRelation``) inputs, V2 sources and non-local files. ``now()``
and ``current_*`` fold into the plan as literals, so they never match.
Cancelled and failed statements store nothing. The cache holds at most
``RESULT_CACHE_ENTRIES`` results and ``RESULT_CACHE_BYTES`` of their rows'
JSON text in all, least recently used out first; a result larger than
the whole byte budget is not stored. ``queryStats.resultCacheHit`` says
whether a statement was served from it.

The server remembers at most ``MAX_QUERY_HISTORY`` done queries (Presto's
``query.max-history``), forgetting the oldest first; a forgotten query id
answers like an unknown one. A query is done once it has ended and its
client has been served the last document (or cancelled it with DELETE),
or has not polled for ``CLIENT_TIMEOUT_S`` (Presto's
``query.client.timeout``, after which the reference abandons a query).
Until then its rows stay, however many other queries end meanwhile.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sensql_presto_spark import catalog
from sensql_presto_spark.statements import StatementSession

PAGE_ROWS = 1000
MAX_QUERY_HISTORY = 100
CLIENT_TIMEOUT_S = 300.0
RESULT_CACHE_ENTRIES = 256
RESULT_CACHE_BYTES = 16 << 20


def _presto_type(dt: T.DataType) -> str:
    """Spark type → Presto type-signature string (presto-client ClientTypeSignature)."""
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "integer"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "varchar"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "varbinary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # Presto's plain timestamp is wall-clock; the engine pins session
        # TZ to UTC, so LTZ values also serialize as wall-clock strings
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return f"array({_presto_type(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"map({_presto_type(dt.keyType)}, {_presto_type(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {_presto_type(f.dataType)}" for f in dt.fields)
        return f"row({inner})"
    return dt.simpleString()


def _json_cell(v):
    import base64
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    return v


class TooManySessionsError(RuntimeError):
    """Every reclaimable session slot is held by an open transaction.

    The LRU bound (``MAX_CLIENT_SESSIONS``) never evicts an in-transaction
    session, so open-txn holders are the one source of unbounded map
    growth; past ``HARD_MAX_SESSIONS`` new clients are rejected with this
    loud error (surfaced to the HTTP client as a failed query with
    errorName ``TooManySessionsError``) rather than admitted silently —
    the coordinator-resource-exhausted posture of the reference's
    queue-full errors (``presto-main/.../execution/QueryQueueManager``).
    """


@dataclass
class QueryExecution:
    query_id: str
    sql: str
    client: str = "anonymous"
    state: str = "QUEUED"
    columns: list | None = None
    rows: list | None = None
    error: dict | None = None
    page_start: int = 0  # the last served page is rows[page_start:cursor]
    cursor: int = 0
    token: int = 0  # the next page's token
    cached: bool = False  # rows came from the server's result cache
    delivered: bool = False  # the client got the last document or cancelled
    created: float = field(default_factory=time.monotonic)
    started: float | None = None
    ended: float | None = None
    polled: float = field(default_factory=time.monotonic)  # the client's last request
    lock: threading.Lock = field(default_factory=threading.Lock)

    def done(self, now: float) -> bool:
        """Whether an ended query may be forgotten: its client has what it
        needs, or stopped asking CLIENT_TIMEOUT_S ago."""
        return self.delivered or now - self.polled > CLIENT_TIMEOUT_S

    def snapshot_stats(self) -> dict:
        end = time.monotonic() if self.ended is None else self.ended
        start = end if self.started is None else self.started
        return {
            "state": self.state,
            "queued": self.state == "QUEUED",
            "scheduled": self.state in ("RUNNING", "FINISHED"),
            "completedSplits": self.cursor,
            "totalSplits": len(self.rows) if self.rows is not None else 0,
            "queuedTimeMillis": round((start - self.created) * 1000),
            "elapsedTimeMillis": round((end - self.created) * 1000),
            "resultCacheHit": self.cached,
        }


class ResultCache:
    """Finished results of read statements, keyed by optimized plan, session
    conf and input file versions (see the module docstring). One lock
    guards the map; no Spark work runs while it is held."""

    def __init__(self, jvm) -> None:
        self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._tree_map = jvm.java.util.TreeMap
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._lock = threading.Lock()
        # (semanticHash, conf, versions) -> (plan, rows, JSON size), oldest first
        self._entries: OrderedDict[tuple, tuple] = OrderedDict()
        self._bytes = 0  # JSON size of every stored result

    def __len__(self) -> int:
        return len(self._entries)

    def key(self, spark: SparkSession, df: DataFrame) -> tuple | None:
        """(plan, bucket) of a cacheable statement, else None. It reads the
        QueryExecution that ``df.collect()`` then runs, so a miss pays no
        second analysis or optimization."""
        plan = df._jdf.queryExecution().optimizedPlan()
        versions = catalog.input_versions(plan)
        if not versions:
            return None
        confs = spark.conf._jconf.getAll()  # the explicitly set ones
        conf = self._json.writeValueAsString(self._tree_map(self._as_java(confs)))
        return plan, (plan.semanticHash(), conf, versions)

    def get(self, key: tuple) -> list | None:
        """The stored rows for ``key``, shared, not copied."""
        plan, bucket = key
        with self._lock:
            entry = self._entries.get(bucket)
        if entry is None or not plan.sameResult(entry[0]):
            return None
        with self._lock:
            if bucket in self._entries:
                self._entries.move_to_end(bucket)
        return entry[1]

    def put(self, key: tuple, rows: list) -> None:
        """Store a miss's rows, unless they are larger than the byte budget
        or an input file changed since ``key`` stat'ed it."""
        plan, bucket = key
        versions = bucket[2]
        # every row is at least "[]," in JSON
        if 3 * len(rows) > RESULT_CACHE_BYTES:
            return
        size = len(json.dumps(rows))
        if size > RESULT_CACHE_BYTES:
            return
        if not catalog.unchanged(versions):
            return
        with self._lock:
            old = self._entries.pop(bucket, None)
            self._bytes += size - (old[2] if old else 0)
            self._entries[bucket] = (plan, rows, size)
            while len(self._entries) > RESULT_CACHE_ENTRIES or self._bytes > RESULT_CACHE_BYTES:
                self._bytes -= self._entries.popitem(last=False)[1][2]


class SqlServer:
    """Protocol server over one SparkSession (coordinator analog).

    ``max_concurrent`` is the resource-group admission control analog
    (reference: presto-main/.../execution/resourceGroups/
    InternalResourceGroup.java hardConcurrencyLimit): at most that many
    queries run simultaneously; excess submissions hold in the QUEUED
    state (visible to the polling client exactly like a queued Presto
    query) until a slot frees. 0 = unlimited.
    """

    def __init__(
        self,
        spark,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_concurrent: int = 0,
        enforce_access: bool = False,
    ):
        from sensql_presto_spark.access import AccessControl
        from sensql_presto_spark.cli import prepare_session

        self.spark = spark
        self.sf_dir = sf_dir
        # Statement state (PREPARE names, SET SESSION properties, temp
        # objects) is keyed per client identity (X-Presto-User /
        # X-Presto-Session header), matching the reference's per-Session
        # scoping in QueryPreparer / SystemSessionProperties.  The surface
        # is installed once, on this private template that runs no
        # statement; each client gets a JVM clone with its own SQLConf,
        # temp views and functions, so one client's SET SESSION and CREATE
        # TEMP objects are invisible to every other client.
        self._template = spark.newSession()
        prepare_session(self._template, sf_dir)
        # one AccessControl store for the whole server (coordinator scope):
        # an admin client's GRANT is visible to the granted user's next
        # query; enforcement mirrors the reference's configured-system-
        # access-control switch (off = AllowAllAccessControl)
        self._access = AccessControl()
        self._enforce_access = enforce_access
        self._sessions: dict[str, StatementSession] = {}
        # clients whose session state was LRU-evicted; their next session
        # raises the session-expired contract on dropped PREPARE references
        self._evicted: set[str] = set()
        self._sessions_lock = threading.Lock()
        self._slots = threading.Semaphore(max_concurrent) if max_concurrent > 0 else None
        self.queries: dict[str, QueryExecution] = {}
        self._ended: list[str] = []  # ids in the order they ended
        self._history_lock = threading.Lock()
        self._results = ResultCache(spark._jvm)
        self._httpd = ThreadingHTTPServer((host, port), self._handler_class())
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "SqlServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    # -- query execution ---------------------------------------------------
    # Sessions beyond this count evict least-recently-used — the
    # reference's idle-session expiry (Session timeout in QueryManager
    # config) bounded by count instead of wall-clock, so a long-lived
    # server with many one-shot clients cannot accumulate cloned
    # SparkSessions without bound. Durable state (grants, warehouse
    # tables) lives outside the session and survives eviction; only
    # session-scoped state (PREPARE names, SET SESSION, temp views) drops,
    # exactly what expiring an idle reference session drops.
    MAX_CLIENT_SESSIONS = 64
    # LRU eviction skips sessions holding an open transaction (evicting
    # one would orphan its backup tables), so in-txn holders are the only
    # way the map can grow past MAX_CLIENT_SESSIONS.  Beyond this hard
    # cap a NEW client is rejected with the loud TOO_MANY_SESSIONS error
    # instead of letting driver state grow without bound — the
    # query-queue-full / TOO_MANY_REQUESTS_FAILED posture of the
    # reference's coordinator resource limits.
    HARD_MAX_SESSIONS = 64

    def _reject_if_txn_saturated(self, client: str) -> None:
        """Admission check for a NEW client (callers hold _sessions_lock).

        Non-transactional sessions are always reclaimable by LRU, so the
        only unreclaimable pressure is open-transaction holders: when
        those alone reach HARD_MAX_SESSIONS, admitting another client
        would grow the map without bound.  Reject loudly; existing
        clients (including every in-txn holder) keep working, and one
        COMMIT/ROLLBACK frees a slot.
        """
        n_txn = sum(
            1
            for c, s in self._sessions.items()
            if c != client and getattr(s, "_in_txn", False)
        )
        if n_txn >= self.HARD_MAX_SESSIONS:
            raise TooManySessionsError(
                f"TOO_MANY_SESSIONS: {n_txn} sessions hold open transactions "
                f"(hard cap {self.HARD_MAX_SESSIONS}); COMMIT or ROLLBACK an "
                "existing transaction before opening new client sessions"
            )

    def _session_for(self, client: str) -> StatementSession:
        with self._sessions_lock:
            sess = self._sessions.get(client)
            if sess is None:
                # reject BEFORE building a session below
                self._reject_if_txn_saturated(client)
        if sess is None:
            # Build OUTSIDE the lock: StatementSession re-attaches persisted
            # materialized views, which must not stall every concurrent
            # query.  Double-checked insert below resolves races (the first
            # insert wins; a losing clone is just garbage).  The clone's
            # first statement registers its own catalog views, so its scans
            # read with its own SQLConf, not the template's.
            clone = SparkSession(
                self.spark.sparkContext, self._template._jsparkSession.cloneSession()
            )
            sess = StatementSession(
                clone,
                self.sf_dir,
                user=client,
                access=self._access,
                enforce_access=self._enforce_access,
            )
            # coordinator-bound procedure (KillQueryProcedure.java)
            sess.procedures["system.runtime.kill_query"] = self._kill_query
        with self._sessions_lock:
            if client not in self._sessions:
                # re-check admission: other clients may have opened
                # transactions while the session was built unlocked
                self._reject_if_txn_saturated(client)
                # re-insert: either the fresh session built above, or a
                # previously-fetched one that a concurrent request evicted
                # between the two lock sections (still fully usable).  A
                # returning client whose state was LRU-evicted gets the
                # loud session-expired contract on any reference to dropped
                # PREPARE state, instead of a silently-fresh session.
                sess.session_expired = client in self._evicted
                self._evicted.discard(client)
                self._sessions[client] = sess
            # LRU order: move-to-end on every touch, evict from the front —
            # but never a session with an open transaction (evicting one
            # would silently discard the txn and orphan its backup tables);
            # in-txn sessions are skipped until they COMMIT/ROLLBACK.
            sess = self._sessions.pop(client)
            self._sessions[client] = sess
            over = len(self._sessions) - self.MAX_CLIENT_SESSIONS
            if over > 0:
                for victim in [
                    c
                    for c in self._sessions
                    if c != client and not getattr(self._sessions[c], "_in_txn", False)
                ][:over]:
                    self._sessions.pop(victim)
                    self._evicted.add(victim)
            return sess

    def _kill_query(self, query_id: str) -> None:
        q = self.queries.get(query_id)
        if q is None:
            raise ValueError(f"Query not found: {query_id}")
        with q.lock:
            if q.state in ("QUEUED", "RUNNING"):
                self._end(q, "CANCELED")
        # actually cancel the Spark jobs driving the query (KillQueryProcedure
        # cancels execution, not just protocol state): _run_admitted tags its
        # thread's jobs with the query_id job group on the shared SparkContext.
        try:
            self.spark.sparkContext.cancelJobGroup(query_id)
        except Exception:  # noqa: BLE001 — cancellation is best-effort
            pass

    def submit(self, sql: str, client: str = "anonymous") -> QueryExecution:
        q = QueryExecution(query_id=f"q_{uuid.uuid4().hex[:12]}", sql=sql, client=client)
        self.queries[q.query_id] = q
        threading.Thread(target=self._run, args=(q,), daemon=True).start()
        return q

    def _end(self, q: QueryExecution, state: str) -> None:
        """Move ``q`` to a final state (the caller holds ``q.lock``)."""
        q.state, q.ended = state, time.monotonic()
        with self._history_lock:
            self._ended.append(q.query_id)
        self._forget_old()

    def _forget_old(self) -> None:
        """Forget the oldest done queries beyond MAX_QUERY_HISTORY. Other
        queries' fields are read without their locks, so no lock order
        between queries arises; a value read is at most a moment old."""
        now = time.monotonic()
        with self._history_lock:
            done = [i for i in self._ended if self.queries[i].done(now)]
            if len(done) > MAX_QUERY_HISTORY:
                forget = set(done[: len(done) - MAX_QUERY_HISTORY])
                self._ended = [i for i in self._ended if i not in forget]
                for i in forget:
                    del self.queries[i]

    def _run(self, q: QueryExecution) -> None:
        if self._slots is not None:
            # admission control: stay QUEUED until a concurrency slot frees
            # (InternalResourceGroup.hardConcurrencyLimit behavior)
            while not self._slots.acquire(timeout=0.05):
                with q.lock:
                    if q.state == "CANCELED":
                        return
        try:
            self._run_admitted(q)
        finally:
            if self._slots is not None:
                self._slots.release()

    def _run_admitted(self, q: QueryExecution) -> None:
        with q.lock:
            if q.state == "CANCELED":
                return
            q.state, q.started = "RUNNING", time.monotonic()
        try:
            sess = self._session_for(q.client)
            # tag this thread's Spark jobs with the query id so KILL / the
            # protocol DELETE can cancel the running jobs, not just flip the
            # protocol state (setJobGroup is thread-local on the shared
            # SparkContext; interruptOnCancel interrupts executor threads)
            sess.spark.sparkContext.setJobGroup(q.query_id, q.sql[:100], interruptOnCancel=True)
            try:
                df = sess.execute(q.sql)
                key = self._results.key(sess.spark, df)
                rows = self._results.get(key) if key else None
                cached = rows is not None
                if not cached:
                    rows = [[_json_cell(v) for v in row] for row in df.collect()]
                # this statement's names: a hit may have been stored under others
                cols = [{"name": f.name, "type": _presto_type(f.dataType)} for f in df.schema.fields]
            finally:
                sess.spark.sparkContext.setJobGroup("", "")
            with q.lock:
                if q.state == "CANCELED":
                    return
                # stored before the client can see FINISHED, so its repeat hits
                if key and not cached:
                    self._results.put(key, rows)
                q.columns, q.rows, q.cached = cols, rows, cached
                self._end(q, "FINISHED")
        except Exception as exc:  # noqa: BLE001 — surfaced to the client as QueryError
            with q.lock:
                if q.state == "CANCELED":
                    # cancelJobGroup interrupted the collect — that is the
                    # expected kill path, not a query failure
                    return
                q.error = {
                    "message": str(exc).split("\n")[0][:500],
                    "errorCode": 1,
                    "errorName": type(exc).__name__,
                    "failureInfo": {"type": type(exc).__name__},
                }
                self._end(q, "FAILED")

    # -- protocol documents ------------------------------------------------
    def _document(self, q: QueryExecution, base: str, token: int) -> dict | None:
        """The document for a request carrying ``token``: the last served
        token gets the same page again (a retry loses no rows), any token but
        that and the next one gets None, i.e. 410 Gone, as in
        ExecutingStatementResource."""
        with q.lock:
            q.polled = time.monotonic()
            if token not in (q.token, q.token - 1):
                return None
            doc: dict = {
                "id": q.query_id,
                "infoUri": f"{base}/v1/query/{q.query_id}",
                "stats": q.snapshot_stats(),
            }
            if q.state in ("QUEUED", "RUNNING"):
                doc["nextUri"] = f"{base}/v1/statement/executing/{q.query_id}/{q.token}"
            elif q.state == "FAILED":
                doc["error"] = q.error
            elif q.state == "CANCELED":
                doc["error"] = {"message": "Query was canceled", "errorName": "USER_CANCELED"}
            elif q.state == "FINISHED":
                doc["columns"] = q.columns
                if token == q.token:
                    q.page_start = q.cursor
                    q.cursor = min(q.cursor + PAGE_ROWS, len(q.rows))
                    q.token += 1
                page = q.rows[q.page_start : q.cursor]
                if page:
                    doc["data"] = page
                if q.cursor < len(q.rows):
                    doc["nextUri"] = f"{base}/v1/statement/executing/{q.query_id}/{q.token}"
            if "nextUri" not in doc and not q.delivered:
                q.delivered = True
                self._forget_old()
        return doc

    # -- http plumbing -----------------------------------------------------
    def _handler_class(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def _base(self) -> str:
                return f"http://{self.headers.get('Host', 'localhost')}"

            def _send(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if self.path != "/v1/statement":
                    self._send(404, {"error": {"message": "not found"}})
                    return
                try:
                    length = int(self.headers.get("Content-Length", 0))
                except ValueError:
                    length = -1
                if length < 0:
                    self._send(400, {"error": {"message": "invalid Content-Length"}})
                    return
                sql = self.rfile.read(length).decode()
                if not sql.strip():
                    self._send(400, {"error": {"message": "SQL statement is empty"}})
                    return
                client = self.headers.get("X-Presto-Session-Id") or self.headers.get(
                    "X-Presto-User", "anonymous"
                )
                q = server.submit(sql, client=client)
                # the submit response is the query's first document: token 0
                self._send(200, server._document(q, self._base(), 0))

            def do_GET(self):
                parts = self.path.strip("/").split("/")
                if self.path == "/v1/info":
                    self._send(
                        200,
                        {
                            "nodeVersion": {"version": "sensql-presto-spark"},
                            "coordinator": True,
                            "starting": False,
                        },
                    )
                    return
                if len(parts) == 5 and parts[:3] == ["v1", "statement", "executing"]:
                    q = server.queries.get(parts[3])
                    if q is None:
                        self._send(404, {"error": {"message": "unknown query"}})
                        return
                    doc = parts[4].isdigit() and server._document(q, self._base(), int(parts[4]))
                    if not doc:
                        self._send(410, {"error": {"message": f"invalid token: {parts[4]}"}})
                        return
                    self._send(200, doc)
                    return
                if len(parts) == 3 and parts[:2] == ["v1", "query"]:
                    # QueryResource.getQueryInfo — the infoUri target
                    q = server.queries.get(parts[2])
                    if q is None:
                        self._send(404, {"error": {"message": "unknown query"}})
                        return
                    with q.lock:
                        self._send(
                            200,
                            {
                                "queryId": q.query_id,
                                "state": q.state,
                                "query": q.sql,
                                "session": {"user": q.client},
                                "queryStats": q.snapshot_stats(),
                                "errorMessage": (q.error or {}).get("message"),
                            },
                        )
                    return
                self._send(404, {"error": {"message": "not found"}})

            def do_DELETE(self):
                parts = self.path.strip("/").split("/")
                if len(parts) == 5 and parts[:3] == ["v1", "statement", "executing"]:
                    q = server.queries.get(parts[3])
                    if q is not None:
                        try:
                            server._kill_query(q.query_id)
                        except ValueError:
                            pass
                        # the client has abandoned the query: nothing to keep
                        q.delivered = True
                        server._forget_old()
                        self.send_response(204)
                        self.end_headers()
                        return
                self._send(404, {"error": {"message": "not found"}})

        return Handler


def main() -> None:
    import argparse
    import os

    from sensql_presto_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Presto-protocol HTTP SQL server on Spark")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    args = ap.parse_args()
    server = SqlServer(get_spark(), args.sf_dir, port=args.port).start()
    print(f"listening on http://127.0.0.1:{server.port}/v1/statement")
    threading.Event().wait()


if __name__ == "__main__":
    main()
