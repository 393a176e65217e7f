"""Snowflake-V1-ish REST front end over the Engine (SURVEY.md §2.6, M6).

Ports the reference's protocol surface (universql/protocol/snowflake.py):
  POST /session/v1/login-request   -> token + session parameters  [:51-118]
  POST /queries/v1/query-request   -> rowtype + base64 Arrow IPC  [:188-264]
  POST /session/heartbeat          -> {success: true}             [:145-155]
  POST /queries/v1/abort-request   -> {success: true}             [:182-186]
  POST /session?delete=true        -> drop session                [:121-135]

Result encoding matches the reference's contract: the Arrow table is
serialized as a RecordBatch IPC stream and base64-encoded into
`rowsetBase64` with `queryResultFormat: "arrow"` (snowflake.py:223-243);
gzip-compressed request bodies are accepted (util.py:258-264). Failures map
to the reference's error envelope with sqlState (snowflake.py:200-218).

Every statement is answered by its query id from one record in
`Engine.query_log` (the last `QUERY_LOG_RETAIN` statements): result fetch,
chunk fetch, multi-statement children and monitoring all read that record,
from any session.

One Engine (= one SparkSession) serves all sessions; each login token owns
an `engine.Session` (as the reference's logins do, snowflake.py:51-118):
database/schema (login `databaseName`/`schemaName` apply as USE would),
warehouse, ALTER SESSION parameters, SET variables; LAST_QUERY_ID counts
its own statements. Warehouse-wide: the result cache (Snowflake's reuse is
account-wide; the key holds the session's db/schema/parameters), the query
log, the current role (bound into policied temp views at refresh) and the
tables, TEMP ones included (each Iceberg table and fixture reads through a
temp view of the one SparkSession, which a `spark.newSession()` per login
would not see).
"""

from __future__ import annotations

import base64
import gzip
import io
import json
import re
import secrets
import threading

import pyarrow as pa

from universql_spark.engine import RECORD_STATE_KEYS, Engine, QueryError, Session
from universql_spark.result import json_rowset, normalize, rowtype

try:
    from flask import Flask, request

    HAS_FLASK = True
except ImportError:  # pragma: no cover - flask is present in this container
    HAS_FLASK = False

#: Session parameters advertised at login — the parameter surface Snowflake
#: clients read (reference ships the same list, util.py:63-204). Values are
#: this engine's truth: UTC session timezone (session.py), arrow results,
#: no telemetry.
SESSION_PARAMETERS: list[dict] = [
    {"name": "TIMESTAMP_OUTPUT_FORMAT", "value": "YYYY-MM-DD HH24:MI:SS.FF3 TZHTZM"},
    {"name": "TIMESTAMP_NTZ_OUTPUT_FORMAT", "value": "YYYY-MM-DD HH24:MI:SS.FF3"},
    {"name": "TIMESTAMP_TZ_OUTPUT_FORMAT", "value": ""},
    {"name": "TIME_OUTPUT_FORMAT", "value": "HH24:MI:SS"},
    {"name": "DATE_OUTPUT_FORMAT", "value": "YYYY-MM-DD"},
    {"name": "BINARY_OUTPUT_FORMAT", "value": "HEX"},
    {"name": "CSV_TIMESTAMP_FORMAT", "value": ""},
    {"name": "TIMEZONE", "value": "UTC"},
    {"name": "QUERY_RESULT_FORMAT", "value": "arrow"},
    {"name": "CLIENT_TIMESTAMP_TYPE_MAPPING", "value": "TIMESTAMP_LTZ"},
    {"name": "CLIENT_PREFETCH_THREADS", "value": 4},
    {"name": "CLIENT_RESULT_CHUNK_SIZE", "value": 640},
    {"name": "CLIENT_RESULT_PREFETCH_THREADS", "value": 1},
    {"name": "CLIENT_RESULT_PREFETCH_SLOTS", "value": 2},
    {"name": "CLIENT_MEMORY_LIMIT", "value": 15360},
    {"name": "CLIENT_SESSION_KEEP_ALIVE", "value": False},
    {"name": "CLIENT_SESSION_KEEP_ALIVE_HEARTBEAT_FREQUENCY", "value": 36000},
    {"name": "CLIENT_SESSION_CLONE", "value": False},
    {"name": "CLIENT_METADATA_USE_SESSION_DATABASE", "value": False},
    {"name": "CLIENT_METADATA_REQUEST_USE_CONNECTION_CTX", "value": False},
    {"name": "CLIENT_HONOR_CLIENT_TZ_FOR_TIMESTAMP_NTZ", "value": True},
    {"name": "CLIENT_RESULT_COLUMN_CASE_INSENSITIVE", "value": False},
    {"name": "CLIENT_USE_V1_QUERY_API", "value": False},
    {"name": "CLIENT_STAGE_ARRAY_BINDING_THRESHOLD", "value": 65280},
    {"name": "CLIENT_CONSENT_CACHE_ID_TOKEN", "value": False},
    {"name": "CLIENT_FORCE_PROTECT_ID_TOKEN", "value": True},
    {"name": "CLIENT_TELEMETRY_ENABLED", "value": False},
    {"name": "CLIENT_TELEMETRY_SESSIONLESS_ENABLED", "value": False},
    {"name": "CLIENT_OUT_OF_BAND_TELEMETRY_ENABLED", "value": False},
    {"name": "CLIENT_DISABLE_INCIDENTS", "value": True},
    {"name": "CLIENT_ENABLE_LOG_INFO_STATEMENT_PARAMETERS", "value": False},
    {"name": "QUERY_CONTEXT_CACHE_SIZE", "value": 5},
    {"name": "AUTOCOMMIT", "value": True},
    {"name": "PYTHON_SNOWPARK_USE_SQL_SIMPLIFIER", "value": True},
    {"name": "PYTHON_CONNECTOR_USE_NANOARROW", "value": True},
    {"name": "SNOWPARK_REQUEST_TIMEOUT_IN_SECONDS", "value": 86400},
]


def _arrow_b64(table: pa.Table) -> str:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        for batch in table.to_batches():
            writer.write_batch(batch)
    return base64.b64encode(sink.getvalue()).decode()


def _body() -> dict:
    raw = request.get_data()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    return json.loads(raw) if raw else {}


_BIND_STR_RE = re.compile(r"'(?:[^']|'')*'")


def _apply_bindings(sql: str, bindings: dict) -> str:
    """Server-side statement bindings (paramstyle qmark `?` / numeric `:N`).

    The reference never sees these — the Python connector's default
    pyformat paramstyle interpolates client-side — but a qmark-mode client
    ships `bindings: {"1": {"type": ..., "value": ...}}` in the
    query-request body (public REST contract; value encodings per the
    public snowflake-connector-python converter: TEXT raw, FIXED/REAL
    numeral strings, BOOLEAN true/false, DATE epoch DAYS, TIMESTAMP_*
    epoch NANOSECONDS, BINARY hex). Values render as Snowflake-dialect
    literals and flow through the normal dialect ring; placeholders inside
    string literals are masked out."""
    if not bindings:
        return sql

    def lit(b: dict) -> str:
        t = (b.get("type") or "TEXT").upper()
        v = b.get("value")
        if v is None:
            return "NULL"
        if t == "TEXT":
            return "'" + str(v).replace("'", "''") + "'"
        if t in ("FIXED", "REAL"):
            return str(v)
        if t == "BOOLEAN":
            return "TRUE" if str(v).lower() in ("true", "1", "t") else "FALSE"
        if t == "DATE":
            return f"DATEADD(day, {int(v)}, '1970-01-01'::DATE)"
        if t.startswith("TIMESTAMP"):
            return f"TO_TIMESTAMP({int(v)}, 9)"
        if t == "BINARY":
            return f"TO_BINARY('{v}', 'HEX')"
        raise QueryError(f"unsupported bind type: {t}", sql_state="22023")

    spans = [(m.start(), m.end()) for m in _BIND_STR_RE.finditer(sql)]
    masked = list(sql)
    for a, b in spans:
        masked[a:b] = "\x00" * (b - a)
    masked = "".join(masked)
    out: list[str] = []
    pos = qmark = i = 0
    while i < len(masked):
        c = masked[i]
        if c == "?":
            qmark += 1
            out.append(sql[pos:i])
            out.append(lit(bindings.get(str(qmark), {})))
            pos = i + 1
        elif (
            c == ":"
            and masked[i + 1 : i + 2].isdigit()
            and masked[i - 1 : i] != ":"
        ):
            j = i + 1
            while j < len(masked) and masked[j].isdigit():
                j += 1
            out.append(sql[pos:i])
            out.append(lit(bindings.get(masked[i + 1 : j], {})))
            pos = j
            i = j - 1
        i += 1
    out.append(sql[pos:])
    return "".join(out)


#: rows per result chunk: an Arrow result inlines its first CHUNK_ROWS rows
#: and lists the rest behind chunk URLs (the reference returns everything
#: in rowsetBase64 and leaves chunk URLs unimplemented,
#: protocol/snowflake.py:223-243)
CHUNK_ROWS = 10_000


def _result_data(query_id: str, table: pa.Table, fmt: str) -> dict:
    """The success payload for one statement's result. JSON results go
    inline whole; Arrow results go out as the inline slice plus chunk
    entries. Each slice is normalized when it is sent: the inline one now,
    each chunk when it is fetched (`result_chunk`)."""
    inline = normalize(table if fmt == "json" else table.slice(0, CHUNK_ROWS))
    data = {
        "queryId": query_id,
        "queryResultFormat": fmt,
        "rowtype": rowtype(inline),
        "returned": table.num_rows,
    }
    if fmt == "json":
        data["rowset"] = json_rowset(inline)
        return data
    data["rowsetBase64"] = _arrow_b64(inline)
    if table.num_rows > CHUNK_ROWS:
        # the Snowflake result-set contract for large results
        slices = (table.slice(off, CHUNK_ROWS) for off in range(CHUNK_ROWS, table.num_rows, CHUNK_ROWS))
        data["chunks"] = [
            {"url": f"/results/{query_id}/chunk/{i}", "rowCount": sl.num_rows, "uncompressedSize": sl.nbytes}
            for i, sl in enumerate(slices)
        ]
    return data


def _error(query_id: str, message: str, sql_state: str) -> dict:
    return {
        "success": False,
        "message": message,
        "data": {"sqlState": sql_state, "errorCode": "002003", "queryId": query_id},
    }


def create_app(engine: Engine | None = None) -> "Flask":
    if not HAS_FLASK:
        raise RuntimeError("flask not available")
    app = Flask("universql_spark")
    eng = engine or Engine()
    sessions: dict[str, Session] = {}
    #: async submissions still executing; a finished one is its query_log
    #: record (execute_async contract)
    running: set[str] = set()
    #: Engine state (the current session, query_log, snap_tables, DuckDB
    #: connections) is not thread-safe; a client that submits async and keeps
    #: issuing synchronous statements would race the worker thread
    #: (ADVICE r3 #3). One lock serializes every eng.execute/execute_df.
    exec_lock = threading.Lock()

    @app.post("/session/v1/login-request")
    def login():
        body = _body().get("data", {})
        arg = {**body, **request.args.to_dict()}
        token = secrets.token_urlsafe(32)
        # SESSION_PARAMETERS: client parameters shipped at login (e.g.
        # PYTHON_CONNECTOR_QUERY_RESULT_FORMAT=JSON for older clients)
        s = sessions[token] = eng.new_session(
            arg.get("databaseName"), arg.get("schemaName"), arg.get("warehouse"), body.get("SESSION_PARAMETERS")
        )
        info = {"database": s.database, "schema": s.schema or "PUBLIC",
                "warehouse": s.warehouse, "parameters": s.client_params}
        return {"success": True, "data": {"token": token, "masterToken": token, "sessionInfo": info,
                                          "parameters": SESSION_PARAMETERS}}

    def _session():
        auth = request.headers.get("Authorization", "")
        token = auth.split('Token="')[-1].rstrip('"') if 'Token="' in auth else None
        return token if token in sessions else None

    @app.post("/queries/v1/query-request")
    def query():
        token = _session()
        if token is None:
            return {"success": False, "message": "invalid token", "code": "390104"}, 401
        session = sessions[token]
        body = _body()
        params = body.get("parameters") or {}
        # queryResultFormat=json fallback (VERDICT r8 #8): honored from the
        # per-query parameter or the session parameter set at login; the
        # multi-statement PARENT response below is ALWAYS json (the real
        # server's contract — the parent carries resultIds, not data)
        fmt_param = params.get("PYTHON_CONNECTOR_QUERY_RESULT_FORMAT") or session.client_params.get(
            "PYTHON_CONNECTOR_QUERY_RESULT_FORMAT"
        )
        fmt = "json" if str(fmt_param).lower() == "json" else "arrow"
        try:
            sql = _apply_bindings(body.get("sqlText", ""), body.get("bindings") or {})
        except QueryError as e:
            return {
                "success": False,
                "message": e.args[0] if e.args else str(e),
                "code": "002010",
                "data": {"sqlState": getattr(e, "sql_state", "22023")},
            }
        # the client's requestId IS the cancellation handle: all Spark jobs
        # this statement schedules run under a job group named after it, so
        # abort-request can cancelJobGroup (reference cancels the DuckDB
        # interrupt the same way, protocol/snowflake.py:182-186)
        query_id = request.args.get("requestId") or body.get("requestId") or secrets.token_hex(8)
        sc = eng.spark.sparkContext
        sc.setJobGroup(query_id, sql[:120], interruptOnCancel=True)
        if body.get("asyncExec"):
            # execute_async contract: return immediately with code 333334
            # (QUERY_IN_PROGRESS_ASYNC); the client polls monitoring and
            # fetches /queries/<id>/result when SUCCEEDED
            running.add(query_id)

            def _run(qid=query_id, text=sql):
                eng.spark.sparkContext.setJobGroup(qid, text[:120], interruptOnCancel=True)
                try:
                    with exec_lock:
                        eng.execute(text, query_id=qid, session=session)
                except QueryError:  # recorded as FAILED_WITH_ERROR
                    pass
                finally:
                    running.discard(qid)

            threading.Thread(target=_run, daemon=True).start()
            return {
                "success": True,
                "code": "333334",
                "data": {"queryId": query_id, "queryResultFormat": "arrow"},
            }
        def count_error(message: str) -> dict:
            return {"success": False, "code": "000008", "message": message,
                    "data": {"sqlState": "0A000", "queryId": query_id}}

        msc = params.get("MULTI_STATEMENT_COUNT")
        if msc is not None:
            # The parameter arrives client-controlled; a non-numeric value
            # must produce the 000008 error envelope, not an HTTP 500
            # (ADVICE r9 #3).
            try:
                msc = int(msc)
            except (TypeError, ValueError):
                return count_error(f"Invalid MULTI_STATEMENT_COUNT: {msc!r}")
        if msc is not None and msc != 1:
            # multi-statement request: the connector sends the whole script
            # as one sqlText plus MULTI_STATEMENT_COUNT (0 = any). The
            # parent response is json-format and carries resultIds; the
            # client then fetches each child via GET /queries/<id>/result
            # (the same surface async results use).
            from universql_spark.dialect import split_statements  # noqa: PLC0415

            stmts = split_statements(sql)
            if not stmts:
                # comment-/semicolon-only sqlText with MULTI_STATEMENT_COUNT=0
                # previously fell through with first=None and 500'd on
                # rowtype(first) (ADVICE r9 #3)
                return count_error("Actual statement count 0 did not match the desired statement count.")
            if msc not in (0, len(stmts)):
                return count_error(
                    f"Actual statement count {len(stmts)} did not match the desired statement count {msc}."
                )
            ids = [f"{query_id}-{i + 1:02d}" for i in range(len(stmts))]
            results = []
            try:
                for cid, s_sql in zip(ids, stmts):
                    with exec_lock:
                        results.append(eng.execute(s_sql, query_id=cid, session=session))
            except QueryError as e:
                return _error(query_id, e.message, e.sql_state)
            data = _result_data(query_id, results[0], "json")
            data["resultIds"] = ",".join(ids)
            return {"success": True, "data": data}
        try:
            if body.get("describeOnly"):
                # JDBC prepared-statement metadata: analyze the plan, return
                # the rowtype, execute NOTHING (SELECT/WITH only — DDL/DML
                # describe as a status row without side effects)
                if re.match(r"^\s*(SELECT|WITH)\b", sql, re.I):
                    with exec_lock:
                        table = eng.execute_df(sql, session=session).limit(0).toArrow()
                else:
                    table = pa.table({"status": pa.array([], pa.string())})
                return {"success": True, "data": _result_data(query_id, table, "arrow")}
            with exec_lock:
                table = eng.execute(sql, query_id=query_id, session=session)
        except QueryError as e:
            return _error(query_id, e.message, e.sql_state)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {"success": True, "data": _result_data(query_id, table, fmt)}

    @app.get("/results/<query_id>/chunk/<int:idx>")
    def result_chunk(query_id: str, idx: int):
        if _session() is None:
            return {"success": False}, 401
        rec = eng.query_record(query_id)
        table = rec and rec["result"]
        offset = (idx + 1) * CHUNK_ROWS
        if table is None or offset >= table.num_rows:
            return {"success": False, "message": "unknown chunk"}, 404
        chunk = normalize(table.slice(offset, CHUNK_ROWS))
        return {"success": True, "data": {"rowsetBase64": _arrow_b64(chunk)}}

    @app.post("/telemetry/send")
    def telemetry():
        # accepted and dropped — telemetry is a client-compat no-op here,
        # matching the reference's disabled-telemetry posture
        return {"success": True, "data": None}

    @app.post("/session/heartbeat")
    def heartbeat():
        return {"success": _session() is not None}

    @app.get("/monitoring/queries/<query_id>")
    def monitoring_one(query_id: str):
        if _session() is None:
            return {"success": False}, 401
        # running first: a finished async statement's record lands before
        # its id leaves `running`
        if query_id in running:
            status = "RUNNING"
        else:
            rec = eng.query_record(query_id)
            status = rec["status"] if rec else "NO_DATA"
        return {"success": True, "data": {"queries": [{"id": query_id, "status": status}]}}

    @app.get("/queries/<query_id>/result")
    def async_result(query_id: str):
        if _session() is None:
            return {"success": False}, 401
        if query_id in running:
            return {"success": True, "code": "333334",
                    "data": {"queryId": query_id, "status": "RUNNING"}}
        rec = eng.query_record(query_id)
        if rec is None:
            return {"success": False, "message": "unknown query id"}, 404
        if rec["result"] is None:
            return _error(query_id, rec["error_message"], rec["sql_state"])
        return {"success": True, "data": _result_data(query_id, rec["result"], "arrow")}

    @app.get("/monitoring/queries")
    def monitoring():
        # reference exposes query monitoring (protocol/snowflake.py:337-343);
        # ours surfaces the engine's per-statement records
        if _session() is None:
            return {"success": False}, 401
        queries = [
            {k: v for k, v in rec.items() if k not in RECORD_STATE_KEYS}
            for rec in list(eng.query_log)
        ]
        return {"success": True, "data": {"queries": queries}}

    @app.post("/queries/v1/abort-request")
    def abort():
        # cancel every Spark job tagged with the statement's requestId;
        # running tasks are interrupted (interruptOnCancel above)
        qid = _body().get("requestId") or request.args.get("requestId")
        if qid:
            eng.spark.sparkContext.cancelJobGroup(qid)
        return {"success": True}

    @app.post("/session")
    def delete_session():
        token = _session()
        if request.args.get("delete") == "true" and token:
            sessions.pop(token, None)
        return {"success": True}

    return app
