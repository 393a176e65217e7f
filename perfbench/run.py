#!/usr/bin/env python3
"""Product-path benchmark: Snowflake REST query-request latency and throughput.

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 --seconds 5 --trace 0

SQL goes through ``/queries/v1/query-request`` of ``create_app(Engine(...))``
exactly as a connector sends it (results decoded, every chunk fetched);
operator-library specs, which have no SQL form, go through their Python
builders. Every reply is checked against DuckDB. Run from the checkout root.

Output: one JSON report line (box state, sample counts, supported tail,
failing statements, and with ``--trace 1`` the per-layer table and its
accounting), then the result line ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. Workloads and the layer -> end-to-end map are described
in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
#: benchmark-owned state inside the checkout: the fixture and its resident
#: layout are built once and reused (steady set-up); everything a run
#: writes (Spark scratch, warehouse, Iceberg tables) lives in its run dir
WORK = os.path.join(BENCH, ".work")
FIXTURE = os.path.join(WORK, "sf0.1")
WORKLOADS = ("interactive_sf01", "result_transfer", "sessions_rw")


def _env(run_dir: str) -> None:
    """Point every location the engine and the JVM write at benchmark-owned
    directories; must run before ``universql_spark`` is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_RESIDENT_DIR"] = os.path.join(WORK, "resident")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def _start_spark(warehouse: str):
    """The engine's own session factory, with the SQL warehouse (where the
    Iceberg tables are rooted) moved into the run dir."""
    from pyspark.sql import SparkSession

    from universql_spark.session import get_spark

    builder_cls = SparkSession.Builder
    orig = builder_cls.getOrCreate

    def with_warehouse(self):
        self._options["spark.sql.warehouse.dir"] = warehouse
        return orig(self)

    builder_cls.getOrCreate = with_warehouse
    try:
        return get_spark("perfbench", sf_dir=FIXTURE)
    finally:
        builder_cls.getOrCreate = orig


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running after 30 s
            proc.kill()
            proc.wait()


class Bench:
    """One run: set-up, timed window(s), checking, metrics."""

    def __init__(self, args, run_dir: str):
        from perfbench import workloads as W

        self.args = args
        self.run_dir = run_dir
        self.W = W
        self.tracer = None
        self.phases: dict[str, float] = {}
        self.warm_records: list = []

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from universql_spark.engine import Engine
        from universql_spark.protocol import create_app
        from universql_spark.queries import ensure_views, load_all

        t = time.perf_counter()
        self.spark = _start_spark(os.path.join(self.run_dir, "warehouse"))
        self.phases["spark_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.registry = load_all()
        # the spec builders and the engine share one session and its views
        ensure_views(self.spark, FIXTURE)
        self.eng = Engine(self.spark)
        self.app = create_app(self.eng)
        self.phases["register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        getattr(self, f"_setup_{self.args.workload}")()
        self.phases["warmup_s"] = time.perf_counter() - t

    def _single_session(self, round_of) -> None:
        from perfbench.client import RestClient

        self.clients = [RestClient(self.app)]
        self.clients[0].query("ALTER SESSION SET USE_CACHED_RESULT = FALSE", "setup-0")
        self.round_of = round_of

    def _setup_interactive_sf01(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        items = self.W.interactive_items(self.registry)
        self._single_session(lambda rnd: self.W.interactive_round(items, self.args.seed, rnd))
        # first plans, codegen and JIT of every spec, through their
        # builders on every core at once: a serial cold pass costs ~2.5x
        # a warm one, and set-up is paid by every run
        with ThreadPoolExecutor(os.cpu_count() or 4) as pool:
            for f in [pool.submit(lambda n=n: self.registry[n].spark(self.spark, FIXTURE).toArrow())
                      for n in sorted(r.name for r in items)]:
                f.result()

    def _setup_result_transfer(self) -> None:
        from perfbench.harness import run_closed_loop

        self._single_session(lambda rnd: self.W.transfer_round(self.args.seed, rnd))
        # one untimed round warms the scan, encode and chunk paths
        self.warm_records, _ = run_closed_loop(self._execute, self.round_of, 0, "warm", first_round=-1)

    def _setup_sessions_rw(self) -> None:
        from perfbench.client import RestClient
        from perfbench.harness import run_closed_loop

        W, seed = self.W, self.args.seed
        reads = {r.name: r for r in W.interactive_items(self.registry) if r.name in W.RW_READS}
        json_fmt = {"PYTHON_CONNECTOR_QUERY_RESULT_FORMAT": "JSON"}
        self.clients = [
            RestClient(self.app, json_fmt if i >= W.RW_JSON_FROM else None) for i in range(W.RW_SESSIONS)
        ]
        for i in range(W.RW_SESSIONS):
            self._execute(W.rw_create(i), f"setup-create-{i}")
        self.round_of = lambda rnd: W.rw_round(reads, seed, rnd)
        # untimed warm-up: a session's first write, scan and JSON reply are
        # cold (a first round measured ~1.7x the median latency of the next)
        self.warm_records, _ = run_closed_loop(self._execute, lambda _rnd: W.rw_warm(reads, seed), 0, "warm")

    # -- execution -----------------------------------------------------------

    def _execute(self, req, rid: str):
        """Send one request from its session (one client thread drives every
        session of a workload)."""
        tr, spark = self.tracer, self.spark
        idx = tr.begin("client.request", request_id=rid) if tr else None
        try:
            if req.kind == "sql":
                return self.clients[req.session].query(req.text, rid, req.fmt)
            build = functools.partial(self.registry[req.text].spark, spark, FIXTURE)
            spark.sparkContext.setJobGroup(rid, req.name)
            try:
                return (tr.wrap(build, "operators.build") if tr else build)().toArrow()
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        finally:
            if tr:
                tr.end(idx)

    def window(self, tag: str, first_round: int):
        from perfbench.harness import run_closed_loop

        return run_closed_loop(self._execute, self.round_of, self.args.seconds, tag, first_round=first_round)

    # -- checking ------------------------------------------------------------

    def check(self, windows: list) -> dict:
        """Compare every reply with DuckDB; returns DuckDB affected-row
        counts of the replayed writes by request id."""
        from perfbench.harness import check_records
        from tests.compare import duck_connection

        con = duck_connection(FIXTURE)
        oracle_cache: dict = {}
        expected_by_id: dict = {}
        dml_rows: dict[str, int] = {}
        try:
            if self.args.workload == "sessions_rw":
                # each session's own table has one writer, so its checks have
                # one right answer whatever the interleaving: replay the
                # table's writes in order and evaluate each check there
                ordered = self.warm_records + [r for recs, _ in windows for r in recs]
                for i in range(self.W.RW_SESSIONS):
                    table = self.W.rw_table(i)
                    dml_rows[f"setup-create-{i}"] = _replay(con, self.W.rw_create(i).replay)
                    for r in ordered:
                        if table not in r.request.text:
                            continue
                        if not r.request.write:
                            expected_by_id[r.request_id] = con.execute(r.request.oracle).arrow()
                        elif r.error is None:
                            dml_rows[r.request_id] = _replay(con, r.request.replay)

            fixed = {r.oracle for r in self.W.interactive_items(self.registry)}

            def expected(rec):
                if rec.request_id in expected_by_id:
                    return expected_by_id[rec.request_id]
                text = rec.request.oracle
                if text is None:
                    return None
                if text not in oracle_cache:
                    # the fixture does not depend on the seed, so the fixed
                    # specs' answers are computed once per fixture
                    oracle_cache[text] = _oracle(con, text, stored=text in fixed)
                return oracle_cache[text]

            check_records(self.warm_records, expected)
            for recs, _ in windows:
                check_records(recs, expected)
            if self.args.workload == "sessions_rw":
                live = [con.execute(f"SELECT * FROM {self.W.rw_table(i)}").arrow() for i in range(self.W.RW_SESSIONS)]
                self.live_row_bytes = sum(t.nbytes for t in live)
                self.row_bytes = self.live_row_bytes / max(1, sum(t.num_rows for t in live))
        finally:
            con.close()
        return dml_rows

    # -- per-layer table -------------------------------------------------------

    def layer_metrics(self, tr, records, thread_seconds: float, dml_rows: dict, overhead_pct: float) -> dict:
        from perfbench.trace import lock_wait_ms, self_ms_by_layer

        spans = tr.spans
        n = max(1, len(records))
        by = {}
        for s in spans:
            by.setdefault(s.name, []).append(s)

        def ms(name: str) -> float:
            return sum(s.duration for s in by.get(name, ())) * 1000 / n

        selfs = self_ms_by_layer(spans)
        roots = sum(s.duration for s in spans if s.parent is None) * 1000
        unattributed = thread_seconds * 1000 - roots
        jobs = stages = tasks = 0
        st = self.spark.sparkContext.statusTracker()
        for r in records:
            for j in st.getJobIdsForGroup(r.request_id):
                jobs += 1
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stages += 1
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
        collects = by.get("spark.collect", [])
        plan_ms = sum(s.attrs.get("plan_ms", 0) for s in collects)
        exec_ms = sum(s.duration * 1000 for s in collects) - plan_ms
        op_ids = {r.request_id for r in records if r.request.kind == "spec"}
        executes = by.get("engine.execute", [])
        reads = sum(1 for s in executes if s.attrs.get("read"))
        hits = self.eng.result_cache_hits - self.hits_before
        rw = [r for r in records if r.request.write and r.error is None]
        dml_bytes = sum(dml_rows.get(r.request_id, 0) for r in rw) * getattr(self, "row_bytes", 0)
        table_bytes = 0
        for t in getattr(self.eng, "snap_tables", {}).values():
            for dirpath, _dirs, files in os.walk(t.root):
                table_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        live = getattr(self, "live_row_bytes", 0)
        writes = [r.latency_s * 1000 for r in rw]
        m = {
            "client.self_ms": selfs.get("client", 0) / n,
            "client.write_p50_ms": statistics.median(writes) if writes else 0.0,
            "protocol.requests": len(by.get("protocol.handler", [])),
            "protocol.self_ms": selfs.get("protocol", 0) / n,
            "protocol.encode_ms": ms("protocol.encode"),
            "protocol.response_bytes": (sum(c.response_bytes for c in self.clients) - self.bytes_before) / n,
            "protocol.chunk_fetches": sum(c.chunk_fetches for c in self.clients) - self.chunks_before,
            "protocol.lock_wait_ms": lock_wait_ms(spans) / n,
            "protocol.failures": sum(1 for r in records if r.error and r.request.kind == "sql"),
            "result.normalize_ms": ms("result.normalize"),
            "result.json_rowset_ms": ms("result.json_rowset"),
            "result.rowtype_ms": ms("result.rowtype"),
            "result.rows": sum(s.attrs.get("rows", 0) for s in by.get("result.normalize", [])) / n,
            "result.arrow_bytes": sum(s.attrs.get("bytes", 0) for s in by.get("result.normalize", [])) / n,
            "engine.statements": len(executes),
            "engine.self_ms": selfs.get("engine", 0) / n,
            "engine.result_cache_hits": hits,
            "engine.result_cache_hit_ratio": hits / reads if reads else 0.0,
            "engine.failures": sum(1 for s in executes if s.attrs.get("error")),
            "dialect.calls": len(by.get("dialect.rewrite", [])),
            "dialect.self_ms": selfs.get("dialect", 0) / n,
            "dialect.rewrite_ms": ms("dialect.rewrite"),
            "dialect.split_ms": ms("dialect.split"),
            "spark.self_ms": selfs.get("spark", 0) / n,
            "spark.analyze_ms": ms("spark.sql"),
            "spark.plan_ms": plan_ms / n,
            "spark.exec_ms": exec_ms / n,
            "spark.jobs": jobs / n,
            "spark.stages": stages / n,
            "spark.tasks": tasks / n,
            "spark.py4j_calls": tr.py4j_calls / n,
            "operators.self_ms": selfs.get("operators", 0) / n,
            "operators.build_ms": ms("operators.build"),
            "operators.collect_ms": sum(s.duration for s in collects if s.request_id in op_ids) * 1000 / n,
            "tableformat.self_ms": selfs.get("tableformat", 0) / n,
            "tableformat.commits": tr.commits,
            "tableformat.commit_ms": sum(
                s.duration for s in by.get("tableformat.commit", [])
                if s.parent is None or spans[s.parent].name != "tableformat.commit"
            ) * 1000 / n,
            "tableformat.conflicts": tr.conflicts,
            "tableformat.files_written": tr.files_written,
            "tableformat.write_amp": tr.bytes_written / dml_bytes if dml_bytes else 0.0,
            "tableformat.space_amp": table_bytes / live if live else 0.0,
            "session.spark_start_s": self.phases["spark_start_s"],
            "session.fixture_s": self.phases["fixture_s"],
            "session.register_s": self.phases["register_s"],
            "session.warmup_s": self.phases["warmup_s"],
            "trace.self_ms": selfs.get("trace", 0) / n,
            "trace.overhead_pct": overhead_pct,
            "trace.unattributed_ms": unattributed / n,
        }
        self.accounting = {
            "traced_thread_ms": thread_seconds * 1000,
            "self_ms_by_layer": {k: round(v, 3) for k, v in sorted(selfs.items())},
            "unattributed_ms": round(unattributed, 3),
            "self_plus_unattributed_ms": round(sum(selfs.values()) + unattributed, 3),
        }
        return m

    def mark_counters(self) -> None:
        self.hits_before = self.eng.result_cache_hits
        self.bytes_before = sum(c.response_bytes for c in self.clients)
        self.chunks_before = sum(c.chunk_fetches for c in self.clients)

    def close(self) -> None:
        """Drop the run's tables and stop Spark (whatever set-up reached)."""
        if getattr(self, "spark", None) is None:
            return
        if self.args.workload == "sessions_rw":
            for i, client in enumerate(getattr(self, "clients", ())):
                try:
                    client.query(f"DROP TABLE IF EXISTS {self.W.rw_table(i)}", f"drop-{i}")
                except Exception:  # noqa: BLE001 - the run dir is removed anyway
                    pass
        _stop_spark(self.spark)
        self.spark = None


def _oracle(con, text: str, stored: bool):
    import pyarrow as pa

    if not stored:
        return con.execute(text).arrow()
    path = os.path.join(FIXTURE, "_oracles", hashlib.sha256(text.encode()).hexdigest()[:24] + ".arrow")
    if os.path.exists(path):
        with pa.ipc.open_file(path) as f:
            return f.read_all()
    table = con.execute(text).arrow()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with pa.ipc.new_file(tmp, table.schema) as w:
        w.write_table(table)
    os.replace(tmp, path)
    return table


def _replay(con, statements: tuple[str, ...]) -> int:
    rows = 0
    for s in statements:
        out = con.execute(s).fetchone()
        if out and isinstance(out[0], int):
            rows += out[0]
    return rows


def parse_args(argv: list[str] | None = None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "universql_spark")):
        print("perfbench: run from a checkout of the repository (universql_spark/ missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    from perfbench import boxstate, fixture
    from perfbench.harness import errors_by_statement, median_by_request, summarize

    bench = Bench(args, run_dir)
    try:
        t = time.perf_counter()
        built = fixture.ensure(FIXTURE)
        fixture_s = time.perf_counter() - t
        nproc = os.cpu_count() or 4
        t = time.perf_counter()
        calib_in = boxstate.calibrate(FIXTURE, nproc)
        calib_s = time.perf_counter() - t

        bench.phases["fixture_s"] = fixture_s
        bench.setup()
        # set-up = process start to the first timed request, less the
        # benchmark's own one-time fixture build and calibration probes
        setup_s = time.perf_counter() - t_process - fixture_s - calib_s
        windows = []
        if args.trace:
            from perfbench.trace import Tracer, install

            # traced window first, then the untraced one it is compared
            # with: the later window runs on a warmer JIT, so the stated
            # overhead errs high
            tracer = bench.tracer = Tracer()
            bench.mark_counters()
            restore = install(tracer, bench.app, bench.eng, bench.spark)
            try:
                windows.append(bench.window("traced", 1000))
            finally:
                restore()
                bench.tracer = None
        windows.append(bench.window("w", 0))
        # the JVM and its workers are still alive here
        rss_mb = boxstate.peak_rss_mb()
        dml_rows = bench.check(windows)
        untraced = summarize(*windows[-1])
        layers = None
        if args.trace:
            traced = summarize(*windows[0])
            overhead = 100 * (1 - traced["throughput_qps"] / untraced["throughput_qps"])
            layers = bench.layer_metrics(tracer, *windows[0], dml_rows, overhead)
            layers["session.peak_rss_mb"] = rss_mb
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    calib_out = boxstate.calibrate(FIXTURE, nproc)

    records = [r for recs, _ in windows for r in recs] + bench.warm_records
    attempted = len(records)
    failed = sum(r.failed for r in records)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "summary": untraced,
        "median_ms_by_request": median_by_request(windows[-1][0]),
        "setup_phases_s": {k: round(v, 4) for k, v in bench.phases.items()},
        "fixture_built": built,
        "errors": errors_by_statement(records),
        "peak_rss_mb": round(rss_mb, 1),
        "context": {
            "nproc": nproc,
            "harness_sha": boxstate.harness_sha(BENCH),
            **{f"{k}_in": v for k, v in calib_in.items()},
            **{f"{k}_out": v for k, v in calib_out.items()},
        },
    }
    if layers is not None:
        report["layers"] = layers
        report["accounting"] = bench.accounting
    print(json.dumps(report, default=str))
    if args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items() if k not in REPORT_ONLY}
    else:
        # the latency median and tail stay in the report line: over five
        # seeds on sessions_rw the median of a run's 48 requests spread
        # (IQR / median) ~0.2, as much as throughput and above a third of
        # any bound allowed
        metrics = {
            "throughput_qps": {"value": untraced["throughput_qps"], "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    for v in metrics.values():
        if isinstance(v["value"], float) and not math.isfinite(v["value"]):
            v["value"] = None
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


#: per-layer metric -> unit; timings and sizes are per client request of the
#: traced window, counts are totals over it
UNITS = {
    "client.self_ms": "ms/req", "client.write_p50_ms": "ms",
    "protocol.requests": "count", "protocol.self_ms": "ms/req", "protocol.encode_ms": "ms/req",
    "protocol.response_bytes": "B/req", "protocol.chunk_fetches": "count",
    "protocol.lock_wait_ms": "ms/req", "protocol.failures": "count",
    "result.normalize_ms": "ms/req", "result.json_rowset_ms": "ms/req", "result.rowtype_ms": "ms/req",
    "result.rows": "rows/req", "result.arrow_bytes": "B/req",
    "engine.statements": "count", "engine.self_ms": "ms/req", "engine.result_cache_hits": "count",
    "engine.result_cache_hit_ratio": "ratio", "engine.failures": "count",
    "dialect.calls": "count", "dialect.self_ms": "ms/req", "dialect.rewrite_ms": "ms/req",
    "dialect.split_ms": "ms/req",
    "spark.self_ms": "ms/req", "spark.analyze_ms": "ms/req", "spark.plan_ms": "ms/req",
    "spark.exec_ms": "ms/req", "spark.jobs": "jobs/req", "spark.stages": "stages/req",
    "spark.tasks": "tasks/req", "spark.py4j_calls": "calls/req",
    "operators.self_ms": "ms/req", "operators.build_ms": "ms/req", "operators.collect_ms": "ms/req",
    "tableformat.self_ms": "ms/req", "tableformat.commits": "count", "tableformat.commit_ms": "ms/req",
    "tableformat.conflicts": "count", "tableformat.files_written": "count",
    "tableformat.write_amp": "ratio", "tableformat.space_amp": "ratio",
    "session.spark_start_s": "s", "session.fixture_s": "s", "session.register_s": "s",
    "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "trace.self_ms": "ms/req", "trace.overhead_pct": "%", "trace.unattributed_ms": "ms/req",
}
#: times of a layer that one of the ``BENCHMARK.json`` workloads never enters (no
#: writes on interactive_sf01, no JSON rowsets there, no operator specs on
#: sessions_rw): they read 0 on every run of that workload, so they stay in
#: the report line and out of the result line
REPORT_ONLY = {
    "client.write_p50_ms", "result.json_rowset_ms", "operators.self_ms", "operators.build_ms",
    "operators.collect_ms", "tableformat.self_ms", "tableformat.commit_ms",
}


if __name__ == "__main__":
    sys.exit(main())
