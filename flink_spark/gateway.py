"""Embedded SQL gateway: the reference's REST protocol over
TableEnvironment (reference flink-table/flink-sql-gateway
rest/handler/session/OpenSessionHandler.java, CloseSessionHandler.java,
statement/ExecuteStatementHandler.java, FetchResultsHandler.java,
SqlGatewayRestAPIVersion.java — v1 URL shapes; result paging mirrors
rest/.../result/ResultFetcher.java: lazily-pulled pages addressed by a
monotonic token, with the *current* token re-fetchable and older tokens
rejected).

Endpoints (v1):

    GET    /v1/info                                → product/version
    GET    /v1/api_versions                        → ["V1"]
    POST   /v1/sessions                            → sessionHandle
    GET    /v1/sessions/{sh}                       → session properties
    DELETE /v1/sessions/{sh}                       → close
    POST   /v1/sessions/{sh}/heartbeat             → keepalive
    POST   /v1/sessions/{sh}/statements            → operationHandle
    POST   /v1/sessions/{sh}/configure-session     → {} (config stmt)
    POST   /v1/sessions/{sh}/complete-statement    → candidates
    POST   /v1/sessions/{sh}/scripts               → clusterID (v4)
    GET    /v1/sessions/{sh}/operations/{oh}/status
    GET    /v1/sessions/{sh}/operations/{oh}/result/{token}
    POST   /v1/sessions/{sh}/operations/{oh}/cancel
    POST   /v1/sessions/{sh}/operations/{oh}/close

Execution model: statements run on a worker pool; SELECT results are
**streamed**, never fully materialized on the driver — the worker only
plans the query and hands the operation a ``DataFrame.toLocalIterator``;
each ``result/{token}`` fetch pulls at most one page (plus a one-row
lookahead to decide ``nextResultUri``) from that iterator, so driver
memory per operation is O(PAGE_SIZE) regardless of result size (the
reference's ResultFetcher streams identically). Tokens follow the
reference contract: re-fetching the current token replays the cached
page; ``token+1`` advances; anything else is an error.

Catalog isolation: each gateway session wraps ``spark.newSession()``, so
temp views / SQL conf are per-session (reference
service/session/SessionManagerImpl.java gives each session its own
SessionContext + catalog manager) while cached data and the cluster are
shared.

Threading: PySpark pinned-thread mode (PYSPARK_PIN_THREAD, default on
since Spark 3.2) is REQUIRED — job groups are thread-local only under
pinned threads, and cancel() relies on ``cancelJobGroup(operation
handle)`` reaching exactly that operation's jobs. The server refuses to
start when it is explicitly disabled. Shared maps (sessions,
per-session operations, per-operation fetch state) are lock-guarded;
HTTP handlers run concurrently.

Honest divergences from the reference: no JDBC driver (the protocol
surface is REST-only; SURVEY §7.3)."""

from __future__ import annotations

import base64
import json
import os
import re
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

PAGE_SIZE = 1000

_ROUTES = [
    ("GET", re.compile(r"^/v1/info$"), "info"),
    ("GET", re.compile(r"^/v1/api_versions$"), "api_versions"),
    ("POST", re.compile(r"^/v1/sessions$"), "open_session"),
    ("GET", re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)$"), "get_session"),
    ("DELETE", re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)$"), "close_session"),
    ("POST", re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/heartbeat$"), "heartbeat"),
    ("POST", re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/statements$"), "execute"),
    # session configuration statement (reference ConfigureSessionHeaders,
    # OperationExecutor.configureSession)
    ("POST",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/configure-session$"),
     "configure_session"),
    # statement completion (reference CompleteStatementHeaders)
    ("POST",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/complete-statement$"),
     "complete_statement"),
    # SQL-script deployment as an application (reference v4
    # DeployScriptHeaders: POST /sessions/:sh/scripts → clusterID)
    ("POST", re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/scripts$"),
     "deploy_script"),
    ("GET",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/applications/"
                r"(?P<app>[\w-]+)/status$"),
     "app_status"),
    ("GET",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/operations/(?P<oh>[\w-]+)/status$"),
     "op_status"),
    ("GET",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/operations/(?P<oh>[\w-]+)"
                r"/result/(?P<token>\d+)$"),
     "op_result"),
    ("POST",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/operations/(?P<oh>[\w-]+)/cancel$"),
     "op_cancel"),
    ("POST",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/operations/(?P<oh>[\w-]+)/close$"),
     "op_close"),
    # materialized-table refresh (reference rest/header/materializedtable/
    # RefreshMaterializedTableHeaders.java: POST /sessions/:sh/
    # materialized-tables/:identifier/refresh)
    ("POST",
     re.compile(r"^/v1/sessions/(?P<sh>[\w-]+)/materialized-tables/"
                r"(?P<mt>[^/]+)/refresh$"),
     "mt_refresh"),
    # embedded workflow scheduler (FLIP-448; reference rest/header/
    # materializedtable/scheduler/*Headers.java — reference URLs carry no
    # version prefix, so both spellings are accepted)
    ("POST", re.compile(r"^(?:/v1)?/workflow/embedded-scheduler/create$"),
     "wf_create"),
    ("POST", re.compile(r"^(?:/v1)?/workflow/embedded-scheduler/suspend$"),
     "wf_suspend"),
    ("POST", re.compile(r"^(?:/v1)?/workflow/embedded-scheduler/resume$"),
     "wf_resume"),
    ("DELETE", re.compile(r"^(?:/v1)?/workflow/embedded-scheduler/delete$"),
     "wf_delete"),
]


def _split_script(script: str) -> list[str]:
    """Split a deployed SQL script into statements on top-level
    semicolons, keeping EXECUTE STATEMENT SET BEGIN ... END blocks whole
    (their inner semicolons are part of ONE statement — the canonical
    content of deployed Flink SQL scripts). Detection runs on the
    literal/comment mask, so a block behind a leading ``--`` comment is
    still recognized; the block terminates at the first fragment whose
    END tokens exceed its CASE tokens (a CASE ... END expression inside
    a fragment consumes its own END and never closes the set)."""
    from flink_spark.sqltok import mask_literals, split_outside_literals

    parts = [s for s in split_outside_literals(script) if s.strip()]

    def _closes(masked_part: str) -> bool:
        ends = len(re.findall(r"\bEND\b", masked_part, re.IGNORECASE))
        cases = len(re.findall(r"\bCASE\b", masked_part, re.IGNORECASE))
        return ends > cases

    out: list[str] = []
    buf: list[str] = []
    for p in parts:
        mp = mask_literals(p)
        if buf:
            buf.append(p)
            if _closes(mp):
                out.append(";".join(buf))
                buf = []
            continue
        if re.match(
            r"^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\b", mp, re.IGNORECASE
        ) and not _closes(mp):
            buf = [p]
        else:
            out.append(p)
    if buf:  # unterminated block: pass through, the dialect will error
        out.append(";".join(buf))
    return out


def _json_value(v):
    """JSON-encode one result cell (timestamps/decimals/bytes → portable)."""
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    return v


class _Operation:
    """One statement execution: status + a lazily-pulled result stream.

    Fetch state (guarded by ``lock``): ``_iter`` yields result rows on
    demand; ``_pushback`` holds the single lookahead row; ``_pages``
    caches only the current token's page so a client may re-fetch it
    (reference ResultFetcher keeps exactly the in-flight buffer)."""

    def __init__(self) -> None:
        self.status = "RUNNING"
        self.error: str | None = None
        self.columns: list[dict] = []
        self.done = threading.Event()
        self.lock = threading.Lock()
        self._iter = iter(())
        self._pushback: list | None = None
        self._pages: dict[int, tuple[list[list], bool]] = {}
        self._next_token = 0

    def attach_iter(self, it) -> None:
        self._iter = it

    def attach_rows(self, rows: list[list]) -> None:
        self._iter = iter(rows)

    def cached_rows(self) -> int:
        """Rows resident on the driver for this operation (test hook)."""
        with self.lock:
            n = sum(len(p) for p, _ in self._pages.values())
            return n + (1 if self._pushback is not None else 0)

    def _pull_page(self) -> tuple[list[list], bool]:
        """Pull ≤ PAGE_SIZE rows + decide has-more via one-row lookahead."""
        page: list[list] = []
        if self._pushback is not None:
            page.append(self._pushback)
            self._pushback = None
        while len(page) < PAGE_SIZE:
            try:
                page.append([_json_value(v) for v in next(self._iter)])
            except StopIteration:
                return page, False
        try:
            self._pushback = [_json_value(v) for v in next(self._iter)]
        except StopIteration:
            return page, False
        return page, True

    def fetch(self, token: int) -> tuple[list[list], bool]:
        """Page for ``token``: replay the cached current page, or advance.

        Raises KeyError for tokens that are neither the current one nor
        the immediate successor (the reference rejects those too)."""
        with self.lock:
            if token in self._pages:
                return self._pages[token]
            if token != self._next_token:
                raise KeyError(token)
            page, more = self._pull_page()
            self._pages = {token: (page, more)}  # drop older pages
            self._next_token = token + 1
            return page, more


class _Session:
    """Per-session TableEnvironment over ``spark.newSession()`` — temp
    views and SQL conf are isolated per session (reference
    SessionManagerImpl gives each session its own SessionContext)."""

    def __init__(self, spark: SparkSession, properties: dict) -> None:
        from flink_spark.catalog import TableEnvironment

        self.env = TableEnvironment(spark.newSession())
        self.properties = dict(properties)
        self.operations: dict[str, _Operation] = {}
        self.lock = threading.Lock()
        # serializes deployed-script runs (their executionConfig scoping
        # must not interleave on the shared session conf)
        self.deploy_lock = threading.Lock()
        self.last_access = time.monotonic()


class SqlGatewayServer:
    """Threaded embedded gateway; ``start()`` returns the bound port."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1",
                 port: int = 0, workers: int = 4,
                 session_idle_timeout: float | None = 600.0) -> None:
        if os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "false":
            raise RuntimeError(
                "SQL gateway requires PySpark pinned-thread mode "
                "(PYSPARK_PIN_THREAD, default on since Spark 3.2): job "
                "groups are thread-local only under pinned threads, and "
                "statement cancellation relies on per-operation job groups."
            )
        self.spark = spark
        self.sessions: dict[str, _Session] = {}
        # deployed-script applications: clusterID -> {status, error}
        self.applications: dict[str, dict] = {}
        self.session_idle_timeout = session_idle_timeout
        self._lock = threading.Lock()
        self.pool = ThreadPoolExecutor(max_workers=workers,
                                       thread_name_prefix="sql-gateway")
        from flink_spark.workflow import EmbeddedWorkflowScheduler

        self.scheduler = EmbeddedWorkflowScheduler(self._workflow_fire)
        gateway = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _dispatch(self, method: str) -> None:
                for m, rx, name in _ROUTES:
                    if m != method:
                        continue
                    match = rx.match(self.path.split("?")[0])
                    if match:
                        body = {}
                        ln = int(self.headers.get("Content-Length") or 0)
                        if ln:
                            try:
                                body = json.loads(self.rfile.read(ln) or b"{}")
                            except json.JSONDecodeError:
                                return self._send(400, {"errors": ["bad json"]})
                        try:
                            code, payload = getattr(gateway, f"_h_{name}")(
                                body, **match.groupdict()
                            )
                        except KeyError:
                            code, payload = 404, {"errors": ["unknown handle"]}
                        except ValueError as e:
                            # scheduler/validation errors surface as JSON
                            # error bodies, not dropped connections
                            code, payload = 500, {"errors": [str(e)]}
                        return self._send(code, payload)
                self._send(404, {"errors": [f"no route {method} {self.path}"]})

            def _send(self, code: int, payload: dict) -> None:
                raw = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, name="sql-gateway-http", daemon=True
        )
        self._thread.start()
        return self.httpd.server_address[1]

    def stop(self) -> None:
        self.scheduler.shutdown()
        self.httpd.shutdown()
        self.httpd.server_close()
        self.pool.shutdown(wait=False, cancel_futures=True)

    # -- handle lookups (lock-guarded) -------------------------------------

    def _session(self, sh: str) -> _Session:
        with self._lock:
            # lazy idle sweep (reference sql-gateway.session.idle-timeout,
            # SessionManagerImpl#checkIdleSessions): any access first
            # expires sessions idle past the timeout, then touches the
            # requested one — expired handles 404 via KeyError
            if self.session_idle_timeout is not None:
                now = time.monotonic()
                dead = [
                    h for h, s in self.sessions.items()
                    if now - s.last_access > self.session_idle_timeout
                ]
                for h in dead:
                    del self.sessions[h]
            sess = self.sessions[sh]
            sess.last_access = time.monotonic()
            return sess

    def _operation(self, sh: str, oh: str) -> _Operation:
        sess = self._session(sh)
        with sess.lock:
            return sess.operations[oh]

    # -- handlers ----------------------------------------------------------

    def _h_info(self, body):
        return 200, {"productName": "flink-spark-sql-gateway", "version": "2.0"}

    def _h_api_versions(self, body):
        return 200, {"versions": ["V1"]}

    def _h_open_session(self, body):
        sh = uuid.uuid4().hex
        sess = _Session(self.spark, body.get("properties", {}))
        with self._lock:
            self.sessions[sh] = sess
        return 200, {"sessionHandle": sh}

    def _h_get_session(self, body, sh):
        return 200, {"properties": self._session(sh).properties}

    def _h_close_session(self, body, sh):
        with self._lock:
            self.sessions.pop(sh)
        return 200, {"status": "CLOSED"}

    def _h_heartbeat(self, body, sh):
        self._session(sh)  # 404 via KeyError if expired
        return 200, {}

    def _h_execute(self, body, sh):
        sess = self._session(sh)
        stmt = body.get("statement", "")
        oh = uuid.uuid4().hex
        op = _Operation()
        with sess.lock:
            sess.operations[oh] = op
        sc = self.spark.sparkContext

        def run() -> None:
            try:
                # job group = operation handle (thread-local under pinned
                # threads), so cancel reaches the actual Spark jobs
                sc.setJobGroup(oh, f"sql-gateway {oh}", interruptOnCancel=True)
                # serialize with script deploys (ADVICE r7): a deploy
                # scopes its executionConfig onto the shared session conf
                # under deploy_lock; without taking the same lock here, a
                # concurrent statement could observe script-scoped conf
                # (or have its own SET clobbered by the deploy restore) —
                # this also matches the reference's per-session sequential
                # OperationManager
                with sess.deploy_lock:
                    res = sess.env.execute_sql(stmt)
                if isinstance(res, DataFrame):
                    op.columns = [
                        {"name": f.name, "logicalType": f.dataType.simpleString()}
                        for f in res.schema.fields
                    ]
                    # stream, don't materialize: fetches pull pages from
                    # this iterator on demand (reference ResultFetcher);
                    # prefetch exactly one page so the operation stays
                    # RUNNING (and cancellable) until a page is computable
                    op.attach_iter(res.toLocalIterator(prefetchPartitions=True))
                    op.fetch(0)
                else:
                    op.columns = [{"name": "result", "logicalType": "string"}]
                    op.attach_rows([["OK"]])
                if op.status == "RUNNING":
                    op.status = "FINISHED"
            except Exception as e:  # noqa: BLE001
                if op.status != "CANCELED":
                    # error before status: a status poll that sees ERROR
                    # must also see its message
                    op.error = str(e)
                    op.status = "ERROR"
            finally:
                try:
                    sc.setJobGroup(None, None)
                except Exception:  # noqa: BLE001
                    pass
                op.done.set()

        self.pool.submit(run)
        return 200, {"operationHandle": oh}

    #: statement classes configure-session accepts (reference
    #: OperationExecutor.SUPPORTED_CONFIG_SESSION_OPERATIONS)
    _CONFIG_STMT_RE = re.compile(
        r"^\s*(CREATE|DROP|ALTER|USE|SET|RESET|ADD\s+JAR|REMOVE\s+JAR|"
        r"LOAD\s+MODULE|UNLOAD\s+MODULE)\b",
        re.IGNORECASE,
    )

    def _h_configure_session(self, body, sh):
        """POST /sessions/{sh}/configure-session (reference
        ConfigureSessionHeaders; SqlGatewayServiceImpl.configureSession):
        run ONE configuration statement synchronously; queries and
        multi-statement scripts are rejected; a positive
        executionTimeout is unsupported, matching the reference."""
        from flink_spark.sqltok import split_outside_literals

        sess = self._session(sh)
        if int(body.get("executionTimeout", 0) or 0) > 0:
            return 400, {
                "errors": [
                    "SqlGatewayService doesn't support timeout mechanism now."
                ]
            }
        stmt = body.get("statement", "")
        parts = [s for s in split_outside_literals(stmt) if s.strip()]
        if len(parts) != 1:
            return 400, {
                "errors": [
                    "Unsupported SQL statement! Configure session only "
                    "accepts a single SQL statement."
                ]
            }
        from flink_spark.sqltok import mask_literals

        # CTAS launches a job, which configure-session must never do
        # (reference OperationExecutor.configureSession rejects it even
        # though plain CREATE TABLE is allowed) — detect a top-level
        # `CREATE TABLE ... AS SELECT` on the masked text (ADVICE r7)
        pm = mask_literals(parts[0])
        is_ctas = bool(
            re.match(
                r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?TABLE\b",
                pm, re.IGNORECASE,
            )
            # AS SELECT / AS (SELECT / AS ((SELECT ... — any parenthesized
            # query body still launches a job
            and re.search(r"\bAS\s*\(*\s*SELECT\b", pm, re.IGNORECASE)
        )
        if is_ctas or not self._CONFIG_STMT_RE.match(parts[0]):
            return 400, {
                "errors": [
                    f"Unsupported statement for configuring session: "
                    f"{parts[0].strip()}\nThe configureSession API only "
                    "supports statements of type CREATE/DROP/ALTER/USE/"
                    "SET/RESET/ADD JAR/REMOVE JAR/LOAD MODULE/UNLOAD MODULE."
                ]
            }
        try:
            # serialize with deploys/statements: configure-session writes
            # session conf the same way a SET statement does
            with sess.deploy_lock:
                sess.env.execute_sql(parts[0])
        except Exception as e:  # noqa: BLE001
            return 400, {"errors": [str(e)]}
        return 200, {}

    _SQL_KEYWORDS = (
        "SELECT", "FROM", "WHERE", "GROUP BY", "GROUPING SETS", "HAVING",
        "ORDER BY", "LIMIT", "JOIN", "LEFT JOIN", "RIGHT JOIN",
        "FULL JOIN", "CROSS JOIN", "UNION", "UNION ALL", "INTERSECT",
        "EXCEPT", "INSERT INTO", "INSERT OVERWRITE", "CREATE TABLE",
        "CREATE VIEW", "CREATE FUNCTION", "CREATE MODEL",
        "CREATE MATERIALIZED TABLE", "CREATE CATALOG", "CREATE DATABASE",
        "DROP TABLE", "DROP VIEW", "ALTER TABLE", "DESCRIBE", "EXPLAIN",
        "SHOW TABLES", "SHOW VIEWS", "SHOW DATABASES", "SHOW CATALOGS",
        "SHOW FUNCTIONS", "SHOW JOBS", "USE", "SET", "RESET", "VALUES",
        "WATERMARK", "PARTITION", "DISTINCT", "TUMBLE", "HOP", "SESSION",
        "CUMULATE", "MATCH_RECOGNIZE", "ML_PREDICT", "ML_EVALUATE",
        "VECTOR_SEARCH",
    )

    def _h_complete_statement(self, body, sh):
        """POST /sessions/{sh}/complete-statement (reference
        CompleteStatementHeaders; the planner's SqlAdvisor analog):
        returns keyword / table / function candidates for the prefix
        ending at `position`."""
        sess = self._session(sh)
        stmt = body.get("statement", "") or ""
        try:
            pos = int(body.get("position", len(stmt)))
        except (TypeError, ValueError):
            pos = len(stmt)  # null/garbage position → complete at end
        pos = max(0, min(pos, len(stmt)))
        i = pos
        while i > 0 and (stmt[i - 1].isalnum() or stmt[i - 1] in "_."):
            i -= 1
        prefix = stmt[i:pos].upper()
        names: set[str] = set(sess.env.tables)
        names.update(sess.env.user_functions)
        try:
            # THIS session's isolated catalog (each _Session wraps
            # spark.newSession()), not the shared root session's
            names.update(
                t.name for t in sess.env.spark.catalog.listTables()
            )
        except Exception:  # noqa: BLE001
            pass
        cands = [k for k in self._SQL_KEYWORDS if k.startswith(prefix)]
        cands += sorted(
            n for n in names if n.upper().startswith(prefix)
        )
        if not prefix:
            cands = list(self._SQL_KEYWORDS)
        return 200, {"candidates": cands}

    def _h_deploy_script(self, body, sh):
        """POST /sessions/{sh}/scripts (reference v4 DeployScriptHeaders /
        DeployScriptRequestBody: exactly one of script | scriptUri, plus
        an executionConfig map): runs the script's statements in order
        as a detached application and returns its clusterID — the
        single-JVM analog of deploying the script to an application
        cluster."""
        sess = self._session(sh)
        script, uri = body.get("script"), body.get("scriptUri")
        if bool(script) == bool(uri):
            return 400, {
                "errors": [
                    "DeployScript requires exactly one of 'script' or "
                    "'scriptUri'."
                ]
            }
        if uri:
            import os
            from urllib.parse import urlparse

            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return 400, {
                    "errors": [
                        f"unsupported scriptUri scheme {parsed.scheme!r} "
                        "(only file:// is reachable from this gateway)"
                    ]
                }
            path = parsed.path or uri
            if not os.path.exists(path):
                return 400, {"errors": [f"scriptUri not found: {path}"]}
            with open(path, encoding="utf-8") as fh:
                script = fh.read()
        cfg_raw = body.get("executionConfig")
        if cfg_raw is not None and not isinstance(cfg_raw, dict):
            # validate the RAW value: [] / "" / false are type errors
            # too, not an absent config
            return 400, {
                "errors": ["executionConfig must be a map of string "
                           "key/value pairs"]
            }
        cfg = cfg_raw or {}
        stmts = _split_script(script)
        cluster_id = f"application_{uuid.uuid4().hex}"
        with self._lock:
            # bounded registry: past 1024 entries, drop the oldest
            # SETTLED ones (a just-finished deploy's status stays
            # reachable through any sane polling window; RUNNING entries
            # are never dropped, so a burst larger than the bound keeps
            # its in-flight statuses at the cost of temporary overshoot)
            if len(self.applications) >= 1024:
                for k in [
                    k for k, v in self.applications.items()
                    if v["status"] != "RUNNING"
                ][: len(self.applications) - 1023]:
                    del self.applications[k]
            self.applications[cluster_id] = {"status": "RUNNING",
                                             "error": None}

        def run() -> None:
            from flink_spark.catalog import _SET_KEY_BRIDGE

            conf = sess.env.spark.conf
            saved: dict[str, str | None] = {}

            def snap(k):
                if k not in saved:
                    try:
                        saved[k] = conf.get(k)
                    except Exception:  # noqa: BLE001 - unset before
                        saved[k] = None

            # executionConfig scopes to the deployed application:
            # snapshot → apply (directly on the session conf, no SQL
            # round-trip, so arbitrary values are safe) → restore.
            # Deploys on one session serialize (deploy_lock), so two
            # scripts can't trample each other's config.
            with sess.deploy_lock:
                outcome, err = "FINISHED", None
                try:
                    for k, v in cfg.items():
                        snap(str(k))
                        conf.set(str(k), str(v))
                        bridged = _SET_KEY_BRIDGE.get(str(k))
                        if bridged:
                            snap(bridged)
                            conf.set(bridged, str(v))
                    for s in stmts:
                        sess.env.execute_sql(s)
                except Exception as e:  # noqa: BLE001
                    outcome, err = "FAILED", str(e)
                finally:
                    for k, old in saved.items():
                        try:
                            if old is None:
                                conf.unset(k)
                            else:
                                conf.set(k, old)
                        except Exception:  # noqa: BLE001
                            pass
                    # publish ONLY after the restore: a client keying
                    # off FINISHED must never observe script-scoped conf
                    self.applications[cluster_id].update(
                        status=outcome, error=err
                    )

        self.pool.submit(run)
        return 200, {"clusterID": cluster_id}

    def _h_app_status(self, body, sh, app):
        """GET /sessions/{sh}/applications/{id}/status — engine extension
        (like the MT refresh route): the deploy response only carries the
        clusterID, and silently losing a failed script would be worse
        than exceeding the reference surface."""
        self._session(sh)
        info = self.applications.get(app)
        if info is None:
            return 404, {"errors": [f"unknown application {app!r}"]}
        out = {"status": info["status"]}
        if info["error"]:
            out["errors"] = [info["error"]]
        return 200, out

    def _h_op_status(self, body, sh, oh):
        op = self._operation(sh, oh)
        out = {"status": op.status}
        if op.error:
            out["errors"] = [op.error]
        return 200, out

    def _h_op_result(self, body, sh, oh, token):
        op = self._operation(sh, oh)
        if op.status == "RUNNING":
            return 200, {"resultType": "NOT_READY",
                         "nextResultUri": self._result_uri(sh, oh, token)}
        if op.status in ("ERROR", "CANCELED"):
            return 500, {"resultType": op.status, "errors": [op.error or ""]}
        sc = self.spark.sparkContext
        try:
            # pulls may run Spark jobs on this HTTP thread — tag them with
            # the operation's job group so cancel still reaches them
            sc.setJobGroup(oh, f"sql-gateway fetch {oh}", interruptOnCancel=True)
            try:
                page, more = op.fetch(int(token))
            finally:
                try:
                    sc.setJobGroup(None, None)
                except Exception:  # noqa: BLE001
                    pass
        except KeyError:
            return 404, {"errors": [f"invalid fetch token {token}: only the "
                                    "current page may be re-fetched"]}
        except Exception as e:  # noqa: BLE001
            if op.status != "CANCELED":
                op.error = str(e)
                op.status = "ERROR"
            return 500, {"resultType": op.status, "errors": [op.error or ""]}
        if not page and int(token) > 0:
            return 200, {"resultType": "EOS",
                         "results": {"columns": op.columns, "data": []}}
        out = {
            "resultType": "PAYLOAD",
            "results": {"columns": op.columns, "data": page},
        }
        if more:
            out["nextResultUri"] = self._result_uri(sh, oh, int(token) + 1)
        return 200, out

    def _h_op_cancel(self, body, sh, oh):
        op = self._operation(sh, oh)
        if op.status == "RUNNING":
            op.status = "CANCELED"
            # interrupt the Spark jobs tagged with this operation
            try:
                self.spark.sparkContext.cancelJobGroup(oh)
            except Exception:  # noqa: BLE001
                pass
        return 200, {"status": op.status}

    def _h_op_close(self, body, sh, oh):
        sess = self._session(sh)
        with sess.lock:
            sess.operations.pop(oh)
        return 200, {"status": "CLOSED"}

    # -- materialized-table refresh + embedded workflow scheduler ----------
    # (FLIP-448; reference rest/handler/materializedtable/
    # RefreshMaterializedTableHandler.java and .../scheduler/*Handler.java)

    def _h_mt_refresh(self, body, sh, mt):
        """One refresh of a session-owned materialized table, run as a
        normal gateway operation (the response carries the operation
        handle, exactly RefreshMaterializedTableResponseBody). Accepts the
        reference body fields: isPeriodic/scheduleTime (logged into the
        statement path only), staticPartitions (single partition scoping —
        our REFRESH grammar), dynamicOptions/executionConfig (recorded;
        execution tuning is Catalyst/AQE's job here)."""
        import urllib.parse

        ident = urllib.parse.unquote(mt)
        name = ident.split(".")[-1].strip("`")
        sess = self._session(sh)
        if name not in sess.env.materialized.tables:
            return 404, {
                "errors": [f"materialized table {ident!r} does not exist "
                           "in this session"]
            }
        parts = body.get("staticPartitions") or {}
        if len(parts) > 1:
            return 400, {
                "errors": ["at most one static partition is supported"]
            }
        stmt = f"ALTER MATERIALIZED TABLE {name} REFRESH"
        if parts:
            (k, v), = parts.items()
            stmt += f" PARTITION ({k} = '{v}')"
        return self._h_execute({"statement": stmt}, sh)

    def _find_mt_session(self, ident: str):
        """Locate the live session whose TableEnvironment owns the
        materialized table (our MTs are session-scoped rather than in a
        persistent catalog — the honest divergence documented in
        flink_spark/workflow.py)."""
        name = ident.split(".")[-1].strip("`")
        with self._lock:
            for sh, sess in self.sessions.items():
                if name in sess.env.materialized.tables:
                    return sh, sess, name
        raise ValueError(
            f"materialized table {ident!r} not found in any live session"
        )

    def _workflow_fire(self, info, schedule_time: str) -> None:
        """One scheduled refresh: loop back through this gateway's own
        REST surface when the workflow carries a restEndpointUrl (the
        reference's EmbeddedSchedulerJob posts the refresh endpoint of
        the gateway that owns the table), else refresh in-process."""
        sh, sess, name = self._find_mt_session(info.materialized_table)
        if not info.rest_endpoint_url:
            sess.env.materialized.refresh(name)
            return
        import urllib.parse
        import urllib.request

        url = (
            info.rest_endpoint_url.rstrip("/")
            + f"/v1/sessions/{sh}/materialized-tables/"
            + urllib.parse.quote(info.materialized_table, safe="")
            + "/refresh"
        )
        payload = json.dumps({
            "isPeriodic": True,
            "scheduleTime": schedule_time,
            "dynamicOptions": info.dynamic_options,
            "executionConfig": info.execution_config,
        }).encode()
        req = urllib.request.Request(
            url, data=payload,
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            oh = json.loads(resp.read()).get("operationHandle")
        # the reference fetches the operation's results, which blocks
        # until the refresh completes — poll status to the same effect
        deadline = time.time() + 120
        while time.time() < deadline:
            op = self._operation(sh, oh)
            if op.status in ("FINISHED", "ERROR", "CANCELED"):
                if op.status == "ERROR":
                    raise RuntimeError(op.error or "refresh failed")
                return
            time.sleep(0.05)
        raise TimeoutError("scheduled refresh operation did not finish")

    def _h_wf_create(self, body):
        ident = body.get("materializedTableIdentifier")
        cron = body.get("cronExpression")
        if not ident or not cron:
            return 400, {
                "errors": ["materializedTableIdentifier and cronExpression "
                           "are required"]
            }
        name, group = self.scheduler.create(
            ident, cron,
            init_config=body.get("initConfig"),
            execution_config=body.get("executionConfig"),
            rest_endpoint_url=body.get("restEndpointUrl"),
        )
        return 200, {"workflowName": name, "workflowGroup": group}

    def _h_wf_suspend(self, body):
        self.scheduler.suspend(
            body.get("workflowName"), body.get("workflowGroup"))
        return 200, {}

    def _h_wf_resume(self, body):
        self.scheduler.resume(
            body.get("workflowName"), body.get("workflowGroup"),
            dynamic_options=body.get("dynamicOptions"))
        return 200, {}

    def _h_wf_delete(self, body):
        self.scheduler.delete(
            body.get("workflowName"), body.get("workflowGroup"))
        return 200, {}

    @staticmethod
    def _result_uri(sh: str, oh: str, token) -> str:
        return f"/v1/sessions/{sh}/operations/{oh}/result/{token}"
