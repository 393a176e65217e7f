"""A Snowflake-connector-shaped client over the Flask app's test client.

It does what a connector does for each statement: POST the
``query-request``, then fetch and decode every result chunk. Decoding is
part of the latency a user waits for, so it happens inside the timed call.
"""

from __future__ import annotations

import base64
import datetime as dt

import pyarrow as pa


class QueryFailed(Exception):
    """The server answered with ``success: false`` or an HTTP error."""


def _decode_arrow(b64: str) -> pa.Table:
    if not b64:
        return pa.table({})
    return pa.ipc.open_stream(base64.b64decode(b64)).read_all()


_EPOCH = dt.date(1970, 1, 1)


def _decode_json(rowtype: list[dict], rowset: list[list]) -> pa.Table:
    """Typed table from a JSON rowset, by the connector's converters for the
    column types the benchmark's JSON requests return."""
    cols: dict[str, pa.Array] = {}
    for i, col in enumerate(rowtype):
        cells = [r[i] for r in rowset]
        t = col["type"]
        if t == "fixed" and not col.get("scale"):
            cols[col["name"]] = pa.array([None if v is None else int(v) for v in cells], pa.int64())
        elif t in ("fixed", "real"):
            cols[col["name"]] = pa.array([None if v is None else float(v) for v in cells], pa.float64())
        elif t == "boolean":
            cols[col["name"]] = pa.array([None if v is None else v == "1" for v in cells], pa.bool_())
        elif t == "date":
            cols[col["name"]] = pa.array(
                [None if v is None else _EPOCH + dt.timedelta(days=int(v)) for v in cells], pa.date32()
            )
        else:
            cols[col["name"]] = pa.array(cells, pa.string())
    return pa.table(cols)


class RestClient:
    """One logged-in REST session."""

    def __init__(self, app, parameters: dict | None = None):
        self._http = app.test_client()
        body = {"data": {"SESSION_PARAMETERS": parameters or {}}}
        r = self._http.post("/session/v1/login-request", json=body)
        token = r.get_json()["data"]["token"]
        self._headers = {"Authorization": f'Snowflake Token="{token}"'}
        #: response body bytes received, chunk fetches made (this session)
        self.response_bytes = 0
        self.chunk_fetches = 0

    def _get(self, url: str) -> dict:
        r = self._http.get(url, headers=self._headers)
        self.response_bytes += len(r.data)
        body = r.get_json(silent=True) or {}
        if r.status_code >= 400 or not body.get("success"):
            raise QueryFailed(f"{url}: HTTP {r.status_code} {body.get('message', '')}"[:300])
        return body["data"]

    def query(self, sql: str, request_id: str, fmt: str = "arrow") -> pa.Table:
        """Execute one statement; return its full result (all chunks)."""
        params = {"PYTHON_CONNECTOR_QUERY_RESULT_FORMAT": "JSON"} if fmt == "json" else {}
        r = self._http.post(
            f"/queries/v1/query-request?requestId={request_id}",
            json={"sqlText": sql, "parameters": params},
            headers=self._headers,
        )
        self.response_bytes += len(r.data)
        body = r.get_json(silent=True) or {}
        if r.status_code >= 400 or not body.get("success"):
            data = body.get("data") or {}
            raise QueryFailed(
                f"HTTP {r.status_code} sqlState={data.get('sqlState')}: {body.get('message', '')}"[:300]
            )
        data = body["data"]
        if data.get("queryResultFormat") == "json":
            return _decode_json(data["rowtype"], data.get("rowset") or [])
        parts = [_decode_arrow(data.get("rowsetBase64", ""))]
        for chunk in data.get("chunks") or []:
            self.chunk_fetches += 1
            parts.append(_decode_arrow(self._get(chunk["url"])["rowsetBase64"]))
        return pa.concat_tables(parts) if len(parts) > 1 else parts[0]
