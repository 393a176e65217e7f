"""Protocol veneer: login -> query -> Arrow IPC decode roundtrip, mirroring
the reference's integration harness shape (proxy in-process + client decode,
tests/integration/utils.py:100-154) via flask's test client."""

from __future__ import annotations

import base64
import gzip
import io
import json

import pyarrow as pa
import pytest

from universql_spark.engine import Engine

flask = pytest.importorskip("flask")

from universql_spark.protocol import create_app  # noqa: E402


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    app = create_app(Engine(spark=spark, sf_dir=sf_dir))
    return app.test_client()


def _login(client):
    r = client.post("/session/v1/login-request", json={"data": {"schemaName": "PUBLIC"}})
    return r.get_json()["data"]["token"]


def _query(client, token, sql):
    return client.post(
        "/queries/v1/query-request",
        json={"sqlText": sql},
        headers={"Authorization": f'Snowflake Token="{token}"'},
    ).get_json()


def _decode(payload) -> pa.Table:
    raw = base64.b64decode(payload["data"]["rowsetBase64"])
    return pa.ipc.open_stream(io.BytesIO(raw)).read_all()


def test_login_query_roundtrip(client):
    token = _login(client)
    out = _query(client, token, "SELECT 1 AS test")
    assert out["success"]
    assert out["data"]["queryResultFormat"] == "arrow"
    assert out["data"]["rowtype"][0]["name"] == "test"
    assert _decode(out).to_pylist() == [{"test": 1}]


def test_query_against_fixtures(client):
    token = _login(client)
    out = _query(client, token, "SELECT COUNT(*) AS c FROM orders")
    assert out["success"] and _decode(out).to_pylist()[0]["c"] > 0


def test_error_envelope_and_recovery(client):
    token = _login(client)
    bad = _query(client, token, "SELECT * FROM missing_table_abc")
    assert bad["success"] is False and bad["data"]["sqlState"]
    ok = _query(client, token, "SELECT 2 AS two")
    assert ok["success"]


def test_auth_required(client):
    r = client.post("/queries/v1/query-request", json={"sqlText": "SELECT 1"})
    assert r.status_code == 401


def test_gzip_body(client):
    token = _login(client)
    body = gzip.compress(json.dumps({"sqlText": "SELECT 3 AS three"}).encode())
    r = client.post(
        "/queries/v1/query-request",
        data=body,
        headers={"Authorization": f'Snowflake Token="{token}"', "Content-Type": "application/json"},
    )
    assert _decode(r.get_json()).to_pylist() == [{"three": 3}]


def test_heartbeat_and_logout(client):
    token = _login(client)
    assert client.post("/session/heartbeat", headers={"Authorization": f'Snowflake Token="{token}"'}).get_json()[
        "success"
    ]
    client.post("/session?delete=true", headers={"Authorization": f'Snowflake Token="{token}"'})
    assert not client.post(
        "/session/heartbeat", headers={"Authorization": f'Snowflake Token="{token}"'}
    ).get_json()["success"]


def test_monitoring_endpoint(client):
    token = _login(client)
    _query(client, token, "SELECT 1 AS one")
    r = client.get("/monitoring/queries", headers={"Authorization": f'Snowflake Token="{token}"'})
    data = r.get_json()
    assert data["success"] and len(data["data"]["queries"]) >= 1
    last = data["data"]["queries"][-1]
    assert "duration_sec" in last
    # per-query cost estimate (reference util.py:375-406 model): positive,
    # and tiny — a sub-second local query must cost well under a cent
    assert 0 < last["estimated_cost_usd"] < 0.01


def test_login_session_parameter_surface(client):
    r = client.post("/session/v1/login-request", json={"data": {}}).get_json()
    params = {p["name"]: p["value"] for p in r["data"]["parameters"]}
    # the parameter surface Snowflake clients read (reference util.py:63-204)
    assert len(params) >= 35
    assert params["TIMEZONE"] == "UTC"
    assert params["QUERY_RESULT_FORMAT"] == "arrow"
    assert params["DATE_OUTPUT_FORMAT"] == "YYYY-MM-DD"
    assert params["CLIENT_TELEMETRY_ENABLED"] is False
    assert params["AUTOCOMMIT"] is True


def test_abort_cancels_running_query(client):
    import threading
    import time

    token = _login(client)
    results = {}

    def run():
        t0 = time.monotonic()
        results["resp"] = client.post(
            "/queries/v1/query-request?requestId=abort-me",
            json={"sqlText": "SELECT COUNT(*) AS c FROM range(500000000000) WHERE id % 7 = 3"},
            headers={"Authorization": f'Snowflake Token="{token}"'},
        ).get_json()
        results["dur"] = time.monotonic() - t0

    t = threading.Thread(target=run)
    t.start()
    time.sleep(2.0)  # let the job actually start
    client.post(
        "/queries/v1/abort-request",
        json={"requestId": "abort-me"},
        headers={"Authorization": f'Snowflake Token="{token}"'},
    )
    t.join(timeout=60)
    assert not t.is_alive(), "query did not terminate after abort"
    assert results["resp"]["success"] is False  # cancelled, not completed
    assert results["dur"] < 55  # a full count over 5e11 rows would take far longer


def test_to_query_decimal_timestamp_roundtrip(client):
    token = _login(client)
    out = _query(
        client,
        token,
        "SELECT * FROM table(to_query('SELECT CAST(1.25 AS DECIMAL(10,2)) AS d, "
        "TIMESTAMP ''2024-03-01 12:30:00'' AS ts, 42 AS n'))",
    )
    assert out["success"], out
    tbl = _decode(out)
    row = tbl.to_pylist()[0]
    types = {f.name: str(f.type) for f in tbl.schema}
    assert "decimal" in types["d"]  # not degraded to float/object via pandas
    assert row["n"] == 42 and str(row["d"]) == "1.25"
    assert "2024-03-01" in str(row["ts"])


def test_large_result_chunking(client):
    token = _login(client)
    out = _query(client, token, "SELECT id, id * 2 AS dbl FROM range(25000) ORDER BY id")
    assert out["success"], out
    first = _decode(out)
    assert first.num_rows == 10000  # inline chunk
    assert out["data"]["returned"] == 25000
    chunks = out["data"]["chunks"]
    assert [c["rowCount"] for c in chunks] == [10000, 5000]
    total = first.num_rows
    for c in chunks:
        r = client.get(c["url"], headers={"Authorization": f'Snowflake Token="{token}"'}).get_json()
        tbl = pa.ipc.open_stream(io.BytesIO(base64.b64decode(r["data"]["rowsetBase64"]))).read_all()
        total += tbl.num_rows
    assert total == 25000


def test_telemetry_endpoint(client):
    assert client.post("/telemetry/send", json={"logs": []}).get_json()["success"] is True


def test_information_schema_metadata_queries(client):
    """The metadata queries a JDBC/BI client issues at connect time
    (reference serves these through fakesnow's info_schema emulation,
    warehouse/duckdb.py:212-214): tables/columns/schemata views over the
    Spark catalog, rows matching the actual catalog state."""
    token = _login(client)
    _query(client, token, "CREATE OR REPLACE TABLE infoschema_t AS SELECT 1 AS a, 'x' AS b")

    out = _query(
        client, token,
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name = 'INFOSCHEMA_T'",
    )
    assert out["success"]
    rows = _decode(out).to_pylist()
    assert rows == [{"table_name": "INFOSCHEMA_T", "table_type": "BASE TABLE"}]

    out = _query(
        client, token,
        "SELECT column_name, data_type, ordinal_position FROM information_schema.columns "
        "WHERE table_name = 'INFOSCHEMA_T' ORDER BY ordinal_position",
    )
    rows = _decode(out).to_pylist()
    assert [r["column_name"] for r in rows] == ["A", "B"]
    assert rows[0]["data_type"] == "NUMBER(38,0)" and rows[1]["data_type"] == "TEXT"

    out = _query(client, token, "SELECT schema_name FROM information_schema.schemata")
    assert {r["schema_name"] for r in _decode(out).to_pylist()} >= {"PUBLIC"}

    # db-qualified form clients emit after USE
    out = _query(
        client, token,
        "SELECT COUNT(*) AS n FROM mydb.information_schema.tables",
    )
    assert out["success"] and _decode(out).to_pylist()[0]["n"] >= 1
    _query(client, token, "DROP TABLE infoschema_t")


def test_describe_only_returns_schema_without_executing(client):
    """JDBC's prepared-statement metadata request: describeOnly analyzes the
    plan and returns rowtype with ZERO rows executed (and DDL describes as a
    status row without running)."""
    token = _login(client)
    out = _query_body(
        client, token,
        {"sqlText": "SELECT o_orderkey, o_totalprice FROM orders", "describeOnly": True},
    )
    assert out["success"] and out["data"]["returned"] == 0
    names = [c["name"] for c in out["data"]["rowtype"]]
    assert names == ["o_orderkey", "o_totalprice"]
    assert _decode(out).num_rows == 0
    # DDL describeOnly must NOT create the table
    out = _query_body(
        client, token,
        {"sqlText": "CREATE OR REPLACE TABLE desc_only_t AS SELECT 1 AS x", "describeOnly": True},
    )
    assert out["success"] and out["data"]["returned"] == 0
    out = _query(client, token, "SELECT COUNT(*) AS c FROM desc_only_t")
    assert not out["success"]  # table was never created


def _query_body(client, token, body):
    return client.post(
        "/queries/v1/query-request",
        json=body,
        headers={"Authorization": f'Snowflake Token="{token}"'},
    ).get_json()


def test_async_query_lifecycle(client):
    """execute_async contract: submit with asyncExec -> code 333334 +
    queryId; poll monitoring until SUCCEEDED; fetch the full Arrow result
    from /queries/<id>/result."""
    import time

    token = _login(client)
    r = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "SELECT COUNT(*) AS n FROM orders", "asyncExec": True},
        headers={"Authorization": f'Snowflake Token="{token}"'},
    ).get_json()
    assert r["success"] and r["code"] == "333334"
    qid = r["data"]["queryId"]
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    for _ in range(120):
        st = client.get(f"/monitoring/queries/{qid}", headers=hdr).get_json()
        status = st["data"]["queries"][0]["status"]
        if status != "RUNNING":
            break
        time.sleep(0.25)
    assert status == "SUCCEEDED", status
    res = client.get(f"/queries/{qid}/result", headers=hdr).get_json()
    assert res["success"]
    buf = base64.b64decode(res["data"]["rowsetBase64"])
    table = pa.ipc.open_stream(io.BytesIO(buf)).read_all()
    assert table.num_rows == 1 and table.column("n")[0].as_py() > 0
    # async error surfaces through the same poll/fetch path
    r = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "SELECT * FROM no_such_table_xyz", "asyncExec": True},
        headers=hdr,
    ).get_json()
    qid = r["data"]["queryId"]
    for _ in range(120):
        st = client.get(f"/monitoring/queries/{qid}", headers=hdr).get_json()
        if st["data"]["queries"][0]["status"] != "RUNNING":
            break
        time.sleep(0.25)
    assert st["data"]["queries"][0]["status"] == "FAILED_WITH_ERROR"
    res = client.get(f"/queries/{qid}/result", headers=hdr).get_json()
    assert not res["success"] and res["data"]["sqlState"]


def test_qmark_bindings(client):
    """Server-side statement bindings (paramstyle qmark): the query-request
    body's `bindings` map substitutes `?` placeholders positionally with
    the connector's documented wire encodings (TEXT raw, FIXED numeral,
    BOOLEAN text, DATE epoch days, TIMESTAMP_NTZ epoch nanos, BINARY hex).
    The reference never handled these (its default-paramstyle client
    interpolates client-side) — real qmark clients need them."""
    token = _login(client)
    out = _query_body(client, token, {
        "sqlText": "SELECT ? AS s, ? AS n, ? AS b, ? AS d, ? AS ts, ? AS bin, '?' AS lit",
        "bindings": {
            "1": {"type": "TEXT", "value": "o'clock"},
            "2": {"type": "FIXED", "value": "42"},
            "3": {"type": "BOOLEAN", "value": "True"},
            "4": {"type": "DATE", "value": "19738"},          # 2024-01-16
            "5": {"type": "TIMESTAMP_NTZ", "value": "1705363200000000000"},
            "6": {"type": "BINARY", "value": "DEADBEEF"},
        },
    })
    assert out["success"], out
    row = _decode(out).to_pylist()[0]
    assert row["s"] == "o'clock"
    assert row["n"] == 42
    assert row["b"] is True
    assert str(row["d"]).startswith("2024-01-16")
    assert str(row["ts"]).startswith("2024-01-16")
    assert row["bin"] == b"\xde\xad\xbe\xef"
    assert row["lit"] == "?"  # placeholder inside a string literal survives


def test_numeric_bindings_and_errors(client):
    """`:N` numeric-style placeholders resolve by index; an unknown bind
    type returns the error envelope without killing the session."""
    token = _login(client)
    out = _query_body(client, token, {
        "sqlText": "SELECT :2 AS hi, :1 AS lo, 1::INT AS cast_kept",
        "bindings": {
            "1": {"type": "FIXED", "value": "1"},
            "2": {"type": "FIXED", "value": "2"},
        },
    })
    assert out["success"], out
    row = _decode(out).to_pylist()[0]
    assert (row["hi"], row["lo"], row["cast_kept"]) == (2, 1, 1)
    bad = _query_body(client, token, {
        "sqlText": "SELECT ? AS x",
        "bindings": {"1": {"type": "OBJECT", "value": "{}"}},
    })
    assert bad["success"] is False and "unsupported bind type" in bad["message"]
    ok = _query(client, token, "SELECT 5 AS five")
    assert ok["success"]


# -- recorded wire-capture replays (VERDICT r8 #8) ---------------------------


def _capture(name):
    import os

    path = os.path.join(os.path.dirname(__file__), "captures", name)
    with open(path, "rb") as f:
        return json.loads(f.read())


def test_capture_replay_json_result_format(client):
    """Replay a recorded client exchange that sets
    PYTHON_CONNECTOR_QUERY_RESULT_FORMAT=JSON at login: the query response
    must come back queryResultFormat=json with the string-encoded rowset
    the public connector's converters decode (FIXED decimal text, BOOLEAN
    '1'/'0', DATE epoch-days)."""
    cap = _capture("json_format_exchange.json")
    r = client.post(cap["login"]["path"], json=cap["login"]["body"])
    token = r.get_json()["data"]["token"]
    r2 = client.post(
        cap["query"]["path"],
        json=cap["query"]["body"],
        headers={"Authorization": f'Snowflake Token="{token}"'},
    ).get_json()
    assert r2["success"] is True
    data = r2["data"]
    exp = cap["expect"]
    assert data["queryResultFormat"] == exp["queryResultFormat"]
    assert data["returned"] == exp["returned"]
    assert data["rowset"] == exp["rowset"]
    assert [c["name"].lower() for c in data["rowtype"]] == exp["rowtype_names"]
    # per-query parameter overrides back to arrow for the same session
    r3 = client.post(
        "/queries/v1/query-request",
        json={
            "sqlText": "SELECT 2 AS two",
            "parameters": {"PYTHON_CONNECTOR_QUERY_RESULT_FORMAT": "ARROW"},
        },
        headers={"Authorization": f'Snowflake Token="{token}"'},
    ).get_json()
    assert r3["data"]["queryResultFormat"] == "arrow"
    assert _decode(r3).to_pylist() == [{"two": 2}]


def test_capture_replay_multi_statement(client):
    """Replay a recorded multi-statement submission: the parent response is
    json-format carrying resultIds; each child result is fetched through
    GET /queries/<id>/result exactly as the connector's nextset() does."""
    cap = _capture("multi_statement_exchange.json")
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    r = client.post(cap["query"]["path"], json=cap["query"]["body"], headers=hdr).get_json()
    assert r["success"] is True
    data = r["data"]
    exp = cap["expect"]
    assert data["queryResultFormat"] == exp["queryResultFormat"]
    ids = data["resultIds"].split(",")
    assert len(ids) == exp["result_count"]
    # parent rowset carries the FIRST statement's result
    assert data["rowset"] == [["1"]]
    for cid, want in zip(ids, exp["child_values"]):
        child = client.get(f"/queries/{cid}/result", headers=hdr).get_json()
        assert child["success"] is True
        tbl = _decode(child)
        assert [list(row.values()) for row in tbl.to_pylist()] == [want]
    # statement-count mismatch is refused with the server's error code
    bad = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "SELECT 1; SELECT 2", "parameters": {"MULTI_STATEMENT_COUNT": 5}},
        headers=hdr,
    ).get_json()
    assert bad["success"] is False and bad["code"] == "000008"
    # MULTI_STATEMENT_COUNT=0 accepts any count
    anyn = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "SELECT 1; SELECT 2", "parameters": {"MULTI_STATEMENT_COUNT": 0}},
        headers=hdr,
    ).get_json()
    assert anyn["success"] is True and len(anyn["data"]["resultIds"].split(",")) == 2


def test_capture_replay_async_polling(client):
    """Replay a recorded execute_async exchange: submission returns code
    333334 with the queryId immediately; the client polls
    GET /monitoring/queries/<qid> until SUCCEEDED exactly as the
    connector's get_query_status does, then fetches the Arrow result via
    GET /queries/<qid>/result."""
    import time

    cap = _capture("async_polling_exchange.json")
    r = client.post(cap["login"]["path"], json=cap["login"]["body"])
    token = r.get_json()["data"]["token"]
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    exp = cap["expect"]
    sub = client.post(cap["query"]["path"], json=cap["query"]["body"], headers=hdr).get_json()
    assert sub["success"] is True and sub["code"] == exp["submit_code"]
    qid = sub["data"]["queryId"]
    assert qid == exp["query_id"]
    # poll monitoring until terminal (the connector sleeps between polls)
    status = None
    for _ in range(200):
        mon = client.get(f"/monitoring/queries/{qid}", headers=hdr).get_json()
        status = mon["data"]["queries"][0]["status"]
        if status not in ("RUNNING", "RESUMING_WAREHOUSE", "QUEUED"):
            break
        time.sleep(0.05)
    assert status == exp["terminal_status"]
    res = client.get(f"/queries/{qid}/result", headers=hdr).get_json()
    assert res["success"] is True
    tbl = _decode(res)
    assert tbl.num_rows == exp["returned"]
    rows = tbl.to_pylist()
    assert rows[0] == exp["first_row"] and rows[-1] == exp["last_row"]
    # an id the server never saw reports NO_DATA, per the monitoring contract
    mon = client.get("/monitoring/queries/never-submitted-id", headers=hdr).get_json()
    assert mon["data"]["queries"][0]["status"] == exp["unknown_query_status"]


def test_capture_replay_put_stage(client):
    """Replay a recorded SnowSQL PUT/stage negotiation: CREATE STAGE ->
    PUT (AUTO_COMPRESS default gzips, .gz suffix) -> LIST -> COPY INTO ->
    verification SELECT, all through the plain query-request surface the
    public connector submits PUT statements on."""
    cap = _capture("put_stage_exchange.json")
    with open(cap["source_file"], "w") as f:
        f.write(cap["source_content"])
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    exp = cap["expect"]
    results = []
    for stmt in cap["statements"]:
        out = client.post("/queries/v1/query-request", json=stmt, headers=hdr).get_json()
        assert out["success"] is True, (stmt, out)
        results.append(_decode(out).to_pylist())
    put_row = results[1][0]
    for k, v in exp["put_row"].items():
        assert put_row[k] == v, (k, put_row)
    assert any(exp["list_contains"] in r["name"] for r in results[2])
    assert results[5][0] == exp["final_row"]


def test_capture_replay_arrow_chunked(client):
    """Replay a recorded large-result exchange: 25k rows come back as a
    10k-row inline rowsetBase64 plus chunks[] URL entries fetched in order
    and concatenated — the connector's chunk-downloader contract. The
    reassembled table must be value-complete and an out-of-range chunk
    index must 404."""
    cap = _capture("arrow_chunked_exchange.json")
    r = client.post(cap["login"]["path"], json=cap["login"]["body"])
    token = r.get_json()["data"]["token"]
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    exp = cap["expect"]
    out = client.post(cap["query"]["path"], json=cap["query"]["body"], headers=hdr).get_json()
    assert out["success"] is True
    data = out["data"]
    assert data["returned"] == exp["returned"]
    assert [c["name"].lower() for c in data["rowtype"]] == exp["rowtype_names"]
    inline = _decode(out)
    assert inline.num_rows == exp["inline_rows"]
    chunk_entries = data["chunks"]
    assert [c["rowCount"] for c in chunk_entries] == exp["chunk_row_counts"]
    tables = [inline]
    for entry in chunk_entries:
        cr = client.get(entry["url"], headers=hdr).get_json()
        assert cr["success"] is True
        t = _decode(cr)
        tables.append(t)
    full = pa.concat_tables(tables)
    assert full.num_rows == exp["returned"]
    import pyarrow.compute as pc

    assert pc.sum(full.column("n")).as_py() == exp["total_sum_n"]
    # rows are a partition of the full result, in order
    assert full.column("n").to_pylist() == list(range(exp["returned"]))
    bad = client.get(f"/results/{data['queryId']}/chunk/99", headers=hdr)
    assert bad.status_code == exp["unknown_chunk_http"]


# -- json_rowset timestamp encodings (ADVICE r9) ------------------------------


def test_json_rowset_timestamp_tz_two_token_form():
    """timestamp_tz cells must use the connector's two-token 'epoch offset'
    form: snowflake-connector-python's JSON TIMESTAMP_TZ converter does
    encoded_value.split() and computes tzinfo from int(offset) - 1440. A
    single 'sec.nanos' token raises ValueError client-side for EVERY
    tz-aware timestamp column (ADVICE r9 #1). Values are UTC-normalized so
    the offset token is always 1440."""
    import datetime as dt
    from decimal import Decimal

    from universql_spark.result import json_rowset

    ts = dt.datetime(2024, 3, 1, 12, 30, 45, 123456, tzinfo=dt.timezone.utc)
    tbl = pa.table({"t": pa.array([ts, None], pa.timestamp("us", tz="UTC"))})
    rows = json_rowset(tbl)
    cell = rows[0][0]
    value, offset = cell.split()  # the connector's exact parse
    assert offset == "1440"
    # round-trip through the converter's arithmetic
    got = dt.datetime.fromtimestamp(float(Decimal(value)), tz=dt.timezone.utc)
    assert abs((got - ts).total_seconds()) < 1e-6
    assert value == f"{int(ts.timestamp())}.123456000"
    assert rows[1][0] is None


def test_json_rowset_timestamp_ntz_single_token():
    import datetime as dt

    from universql_spark.result import json_rowset

    ts = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    tbl = pa.table({"t": pa.array([ts], pa.timestamp("us"))})
    cell = json_rowset(tbl)[0][0]
    assert " " not in cell and cell.endswith(".123456000")


def test_json_rowset_pre_epoch_timestamp_sign_magnitude():
    """1969-12-31T23:59:59.000001 is -0.999999 s; naive divmod encodes it
    as '-1.000001000' (parses to -1.000001 s — ADVICE r9 #2). The decimal
    text must be '-0.999999000'."""
    import datetime as dt
    from decimal import Decimal

    from universql_spark.result import json_rowset

    ts = dt.datetime(1969, 12, 31, 23, 59, 59, 1)
    tbl = pa.table({"t": pa.array([ts], pa.timestamp("us"))})
    cell = json_rowset(tbl)[0][0]
    assert cell == "-0.999999000"
    assert Decimal(cell) == Decimal("-0.999999")
    # a deeper pre-epoch instant: -2.5 s exactly
    ts2 = dt.datetime(1969, 12, 31, 23, 59, 57, 500000)
    tbl2 = pa.table({"t": pa.array([ts2], pa.timestamp("us"))})
    assert json_rowset(tbl2)[0][0] == "-2.500000000"


def test_multi_statement_degenerate_inputs(client):
    """Comment-only sqlText with MULTI_STATEMENT_COUNT=0 and a non-numeric
    MULTI_STATEMENT_COUNT must both return a 000008 error envelope, not an
    HTTP 500 (ADVICE r9 #3)."""
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    r = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "-- nothing here ;;", "parameters": {"MULTI_STATEMENT_COUNT": 0}},
        headers=hdr,
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["success"] is False and body["code"] == "000008"
    r2 = client.post(
        "/queries/v1/query-request",
        json={"sqlText": "SELECT 1", "parameters": {"MULTI_STATEMENT_COUNT": "banana"}},
        headers=hdr,
    )
    assert r2.status_code == 200
    body2 = r2.get_json()
    assert body2["success"] is False and body2["code"] == "000008"


def test_result_reuse_through_protocol(client):
    """Persisted-result reuse reaches the REST surface: the second identical
    query-request returns the same values and the engine logs it as
    result_reuse (the connector sees an ordinary successful response)."""
    token = _login(client)
    sql = "SELECT r_regionkey, COUNT(*) AS c FROM region GROUP BY r_regionkey ORDER BY r_regionkey"
    a = _query(client, token, sql)
    b = _query(client, token, sql)
    assert a["success"] and b["success"]
    assert _decode(a).to_pylist() == _decode(b).to_pylist()
    # the reuse is visible in the monitoring/query-log surface
    hist = client.get(
        "/monitoring/queries", headers={"Authorization": f'Snowflake Token="{token}"'}
    ).get_json()
    logged = [q for q in hist["data"]["queries"] if q.get("sql", "").startswith("SELECT r_regionkey")]
    assert any(q.get("result_reuse") for q in logged)


# -- one query_log record answers every per-statement surface -------------------


def test_sync_monitoring_by_request_id(client):
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    out = client.post(
        "/queries/v1/query-request?requestId=sync-mon-0001", json={"sqlText": "SELECT 1 AS one"}, headers=hdr
    ).get_json()
    assert out["success"] and out["data"]["queryId"] == "sync-mon-0001"
    mon = client.get("/monitoring/queries/sync-mon-0001", headers=hdr).get_json()
    assert mon["data"]["queries"] == [{"id": "sync-mon-0001", "status": "SUCCEEDED"}]


def test_failed_sync_statement_in_monitoring(client):
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    out = client.post(
        "/queries/v1/query-request?requestId=sync-fail-0001",
        json={"sqlText": "SELECT * FROM no_such_table_mon"},
        headers=hdr,
    ).get_json()
    assert out["success"] is False
    mon = client.get("/monitoring/queries/sync-fail-0001", headers=hdr).get_json()
    assert mon["data"]["queries"][0]["status"] == "FAILED_WITH_ERROR"
    listed = client.get("/monitoring/queries", headers=hdr).get_json()["data"]["queries"]
    rec = next(q for q in listed if q["query_id"] == "sync-fail-0001")
    assert rec["status"] == "FAILED_WITH_ERROR"
    assert rec["error_message"] == out["message"]
    assert rec["sql_state"] == out["data"]["sqlState"]


def test_sync_result_endpoint_returns_chunks(client):
    """/queries/<id>/result serves a finished sync statement too; a result
    over CHUNK_ROWS comes back as the inline slice plus chunks[]."""
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    sql = "SELECT id, id * 2 AS dbl FROM range(25000) ORDER BY id"
    out = client.post("/queries/v1/query-request?requestId=sync-big-0001", json={"sqlText": sql}, headers=hdr)
    assert out.get_json()["success"]
    res = client.get("/queries/sync-big-0001/result", headers=hdr).get_json()
    assert res["success"] and res["data"]["returned"] == 25000
    tables = [_decode(res)]
    for entry in res["data"]["chunks"]:
        tables.append(_decode(client.get(entry["url"], headers=hdr).get_json()))
    full = pa.concat_tables(tables)
    assert full.column("id").to_pylist() == list(range(25000))
    assert full.column("dbl").to_pylist() == [2 * i for i in range(25000)]


def test_evicted_statement_chunk_url_is_404(client):
    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    out = client.post(
        "/queries/v1/query-request?requestId=evict-big-0001",
        json={"sqlText": "SELECT id FROM range(15000) ORDER BY id"},
        headers=hdr,
    ).get_json()
    url = out["data"]["chunks"][0]["url"]
    assert client.get(url, headers=hdr).status_code == 200
    more = "; ".join(f"SELECT {i} AS evict_v" for i in range(100))
    assert client.post("/queries/v1/query-request", json={"sqlText": more}, headers=hdr).get_json()["success"]
    assert client.get(url, headers=hdr).status_code == 404
    assert client.get("/monitoring/queries/evict-big-0001", headers=hdr).get_json()["data"]["queries"][0][
        "status"
    ] == "NO_DATA"


def test_async_poll_never_loses_a_finishing_statement(client):
    """Stress the hand-off from the in-flight set to the record: while
    async statements finish, every poll of a submitted id reads RUNNING or
    SUCCEEDED, never NO_DATA."""
    import sys
    import time

    token = _login(client)
    hdr = {"Authorization": f'Snowflake Token="{token}"'}
    ids = [f"async-stress-{i:02d}" for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for i, qid in enumerate(ids):
            r = client.post(
                f"/queries/v1/query-request?requestId={qid}",
                json={"sqlText": f"SELECT {i} AS stress_v", "asyncExec": True},
                headers=hdr,
            ).get_json()
            assert r["code"] == "333334"
        deadline = time.monotonic() + 120
        pending = set(ids)
        while pending and time.monotonic() < deadline:
            for qid in list(pending):
                st = client.get(f"/monitoring/queries/{qid}", headers=hdr).get_json()
                status = st["data"]["queries"][0]["status"]
                if status != "RUNNING":
                    pending.discard(qid)
                    assert status == "SUCCEEDED", (qid, status)
    finally:
        sys.setswitchinterval(old)
    assert not pending, pending


# -- each login owns its session state ----------------------------------------


def _hdr(token):
    return {"Authorization": f'Snowflake Token="{token}"'}


def _run(client, token, sql, request_id):
    out = client.post(
        f"/queries/v1/query-request?requestId={request_id}", json={"sqlText": sql}, headers=_hdr(token)
    ).get_json()
    assert out["success"], out.get("message")
    return out


def test_set_variable_stays_in_its_session(client):
    a, b = _login(client), _login(client)
    assert _query(client, a, "SET iso_v = 1")["success"]
    assert _decode(_query(client, a, "SELECT $iso_v AS v")).to_pylist() == [{"v": 1}]
    assert _query(client, b, "SELECT $iso_v AS v")["success"] is False


def test_query_tag_tags_only_its_session(client):
    a, b = _login(client), _login(client)
    assert _query(client, a, "ALTER SESSION SET QUERY_TAG = 'iso_tag_a'")["success"]
    _run(client, a, "SELECT 1 AS tagged", "iso-tag-a1")
    _run(client, b, "SELECT 1 AS tagged", "iso-tag-b1")
    listed = client.get("/monitoring/queries", headers=_hdr(a)).get_json()["data"]["queries"]
    recs = {q["query_id"]: q for q in listed}
    assert recs["iso-tag-a1"].get("query_tag") == "iso_tag_a"
    assert "query_tag" not in recs["iso-tag-b1"]


def test_timezone_stays_in_its_session(client):
    a, b = _login(client), _login(client)
    sql = "SELECT TO_VARCHAR(TO_TIMESTAMP_LTZ(0)) AS t"
    utc = _decode(_query(client, b, sql)).to_pylist()
    assert _query(client, a, "ALTER SESSION SET TIMEZONE = 'America/New_York'")["success"]
    assert _decode(_query(client, a, sql)).to_pylist() != utc
    assert _decode(_query(client, b, sql)).to_pylist() == utc
    params = _decode(_query(client, b, "SHOW PARAMETERS LIKE 'TIMEZONE'")).to_pylist()
    assert params[0]["value"] == "UTC" and params[0]["level"] == ""


def test_use_database_stays_in_its_session(client):
    a, b = _login(client), _login(client)
    for sql in ("CREATE DATABASE IF NOT EXISTS iso_use_db", "CREATE OR REPLACE TABLE iso_use_t AS SELECT 'default' AS w"):
        assert _query(client, b, sql)["success"]
    for sql in ("USE DATABASE iso_use_db", "CREATE OR REPLACE TABLE iso_use_t AS SELECT 'iso' AS w"):
        assert _query(client, a, sql)["success"]
    read = "SELECT w FROM iso_use_t"
    assert _decode(_query(client, a, read)).to_pylist() == [{"w": "iso"}]
    assert _decode(_query(client, b, read)).to_pylist() == [{"w": "default"}]
    for token in (a, b):
        assert _query(client, token, "DROP TABLE iso_use_t")["success"]
    # another session drops A's database: A falls back to `default`
    assert _query(client, b, "DROP DATABASE iso_use_db")["success"]
    assert _decode(_query(client, a, "SELECT 1 AS alive")).to_pylist() == [{"alive": 1}]


def test_login_database_resolves_bare_names(client):
    a = _login(client)
    for sql in ("CREATE DATABASE IF NOT EXISTS iso_login_db",
                "CREATE OR REPLACE TABLE iso_login_db.iso_login_t AS SELECT 7 AS x"):
        assert _query(client, a, sql)["success"]
    r = client.post("/session/v1/login-request", json={"data": {"databaseName": "ISO_LOGIN_DB"}}).get_json()
    assert r["data"]["sessionInfo"]["database"] == "ISO_LOGIN_DB"
    b = r["data"]["token"]
    assert _decode(_query(client, b, "SELECT x FROM iso_login_t")).to_pylist() == [{"x": 7}]
    assert _query(client, a, "SELECT x FROM iso_login_t")["success"] is False


def test_last_query_id_is_per_session_result_scan_is_not(client):
    """LAST_QUERY_ID counts the caller's own statements (Snowflake's
    contract); RESULT_SCAN of another session's retained id still works."""
    a, b = _login(client), _login(client)
    _run(client, b, "SELECT 'b' AS who", "lqid-b1")
    _run(client, a, "SELECT 'a' AS who", "lqid-a1")
    assert _decode(_run(client, b, "SELECT LAST_QUERY_ID() AS q", "lqid-b2")).to_pylist() == [{"q": "lqid-b1"}]
    scan = _run(client, b, "SELECT who FROM TABLE(RESULT_SCAN('lqid-a1'))", "lqid-b3")
    assert _decode(scan).to_pylist() == [{"who": "a"}]
