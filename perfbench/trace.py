"""Per-layer spans recorded from the benchmark's side of each layer boundary.

The benchmark wraps the public entry points of each module (and the
module-level names the protocol handlers call) for the traced window only;
nothing inside ``universql_spark`` changes. A span holds its name, start,
end, parent and request id; spans stay in memory and are reduced to the
per-layer table when the window ends. A layer is the part of the span
name before the first dot.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

_MISSING = object()


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request_id: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; one open-span stack per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        #: Py4J round trips made while tracing
        self.py4j_calls = 0
        #: tableformat metadata commits won / lost, files and bytes written
        self.commits = 0
        self.conflicts = 0
        self.files_written = 0
        self.bytes_written = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, request_id: str | None = None) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if request_id is None and parent is not None:
            request_id = self.spans[parent].request_id
        self.spans.append(Span(name, time.perf_counter(), parent=parent, request_id=request_id))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack().pop()
        return span

    def wrap(self, fn: Callable, name: str, after: Callable | None = None) -> Callable:
        """``fn`` inside a span; ``after(span, result, args)`` may annotate
        the span. An exception marks the span ``error`` and propagates."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                res = fn(*args, **kwargs)
            except BaseException:
                self.end(idx).attrs["error"] = True
                raise
            span = self.end(idx)
            if after is not None:
                after(span, res, args)
            return res

        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, not double-counted)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.duration - covered)
    return out


def self_ms_by_layer(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] += t * 1000
    return dict(out)


def lock_wait_ms(spans: list[Span]) -> float:
    """Per query-request handler: time from handler entry to its
    ``Engine.execute`` entry, minus the request parsing done before it —
    what is left is waiting for the engine's execution lock."""
    first_exec: dict[int, float] = {}
    pre_work: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is None:
            continue
        if s.name == "engine.execute":
            first_exec.setdefault(s.parent, s.start)
        elif s.name in ("protocol.parse", "protocol.bind"):
            pre_work[s.parent] += s.duration
    total = 0.0
    for idx, t_exec in first_exec.items():
        handler = spans[idx]
        if handler.name == "protocol.handler":
            total += max(0.0, t_exec - handler.start - pre_work[idx])
    return total * 1000


def _file_bytes(path: str) -> int:
    try:
        return os.path.getsize(path.replace("file:", "", 1))
    except OSError:
        return 0


def install(tracer: Tracer, app, eng, spark) -> Callable[[], None]:
    """Wrap every traced boundary; returns the function that restores the
    originals."""
    import py4j.clientserver
    import py4j.java_gateway
    from pyspark.sql.classic.dataframe import DataFrame

    from universql_spark import engine as engine_mod
    from universql_spark import protocol
    from universql_spark.iceberg_format import IcebergTable

    undo: list[Callable[[], None]] = []

    def patch(obj, attr: str, new) -> None:
        old = vars(obj).get(attr, _MISSING)  # an inherited attribute is not restored, only unshadowed
        setattr(obj, attr, new)
        undo.append(lambda: delattr(obj, attr) if old is _MISSING else setattr(obj, attr, old))

    def table_size(span: Span, res, _args) -> None:
        span.attrs["rows"] = res.num_rows
        span.attrs["bytes"] = res.nbytes

    def plan_phases(span: Span, _res, args) -> None:
        # optimizer + physical planning as Spark's own tracker recorded them;
        # the read is the tracer's own cost (layer "trace"), and its Py4J
        # round trips are not the engine's
        idx, calls = tracer.begin("trace.probe"), tracer.py4j_calls
        try:
            phases = args[0]._jdf.queryExecution().tracker().phases()
            span.attrs["plan_ms"] = sum(
                phases.get(p).get().durationMs() for p in ("optimization", "planning")
                if phases.contains(p)
            )
        except Exception:  # noqa: BLE001 - a plan without a tracker (local relation)
            span.attrs["plan_ms"] = 0
        finally:
            tracer.py4j_calls = calls
            tracer.end(idx)

    def read_only(span: Span, _res, args) -> None:
        span.attrs["read"] = str(args[0]).lstrip().upper().startswith(("SELECT", "WITH"))

    for name, span_name, after in (
        ("_arrow_b64", "protocol.encode", None),
        ("_body", "protocol.parse", None),
        ("_apply_bindings", "protocol.bind", None),
        ("normalize", "result.normalize", table_size),
        ("json_rowset", "result.json_rowset", None),
        ("rowtype", "result.rowtype", None),
    ):
        patch(protocol, name, tracer.wrap(getattr(protocol, name), span_name, after))
    views = app.view_functions
    for view, span_name in (("query", "protocol.handler"), ("result_chunk", "protocol.chunk")):
        orig = views[view]
        views[view] = tracer.wrap(orig, span_name)
        undo.append(lambda v=view, o=orig: views.__setitem__(v, o))
    # Flask serializes the handler's dict to the JSON body after the view
    # returns, outside the handler span
    patch(app, "make_response", tracer.wrap(app.make_response, "protocol.serialize"))
    patch(eng, "execute", tracer.wrap(eng.execute, "engine.execute", read_only))
    patch(engine_mod, "snowflake_to_spark", tracer.wrap(engine_mod.snowflake_to_spark, "dialect.rewrite"))
    patch(engine_mod, "split_statements", tracer.wrap(engine_mod.split_statements, "dialect.split"))
    patch(spark, "sql", tracer.wrap(spark.sql, "spark.sql"))
    patch(DataFrame, "toArrow", tracer.wrap(DataFrame.toArrow, "spark.collect", plan_phases))

    create = vars(IcebergTable)["create"].__func__
    patch(IcebergTable, "create", classmethod(tracer.wrap(create, "tableformat.commit")))
    for meth in ("append", "delete_where", "update_where", "merge_apply"):
        patch(IcebergTable, meth, tracer.wrap(getattr(IcebergTable, meth), "tableformat.commit"))
    orig_commit, orig_write = IcebergTable._commit, IcebergTable._write_files

    def counted_commit(self, d):
        ok = orig_commit(self, d)
        if ok:
            tracer.commits += 1
        else:
            tracer.conflicts += 1
        return ok

    def counted_write(self, df):
        files = orig_write(self, df)
        tracer.files_written += len(files)
        tracer.bytes_written += sum(_file_bytes(f) for f in files)
        return files

    patch(IcebergTable, "_commit", counted_commit)
    patch(IcebergTable, "_write_files", counted_write)

    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        orig_send = cls.send_command

        def counted_send(self, command, *a, _orig=orig_send, **kw):
            tracer.py4j_calls += 1
            return _orig(self, command, *a, **kw)

        patch(cls, "send_command", counted_send)

    def restore() -> None:
        for u in reversed(undo):
            u()

    return restore
