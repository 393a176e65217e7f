"""Closed-loop load generator, result checking and the end-to-end statistics.

A closed loop: the client sends its next request only after the previous
reply (and all its chunks) arrived, as a Snowflake connector does. One
client thread drives every session of a workload. Nothing here knows about
Spark, so the accounting can be tested with a fake executor.
"""

from __future__ import annotations

import math
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa

from perfbench.workloads import Request


@dataclass
class Record:
    request: Request
    request_id: str
    start: float
    latency_s: float
    error: str | None = None
    #: the reply, kept until it is checked, then dropped
    result: pa.Table | None = None
    wrong: bool = False

    @property
    def failed(self) -> bool:
        return self.error is not None or self.wrong


Execute = Callable[[Request, str], pa.Table]


def run_closed_loop(
    execute: Execute,
    round_of: Callable[[int], list[Request]],
    seconds: float,
    tag: str,
    first_round: int = 0,
) -> tuple[list[Record], float]:
    """Send whole rounds until ``seconds`` have passed, always finishing the
    round in progress. ``round_of(rnd)`` gives the requests of one round.
    Returns the records in completion order and the wall time spent."""
    t_start = time.perf_counter()
    out: list[Record] = []
    rnd = first_round
    while True:
        for j, req in enumerate(round_of(rnd)):
            rid = f"{tag}-r{rnd}-{j}"
            t0 = time.perf_counter()
            try:
                res, err = execute(req, rid), None
            except Exception as e:  # noqa: BLE001 - a failed request is a measured outcome
                res, err = None, f"{type(e).__name__}: {e}"[:300]
            out.append(Record(req, rid, t0, time.perf_counter() - t0, err, res))
        rnd += 1
        if time.perf_counter() - t_start >= seconds:
            return out, time.perf_counter() - t_start


# -- result checking ------------------------------------------------------------


def same_result(got: pa.Table, want: pa.Table) -> bool:
    """Order-insensitive equality of two results, by the canonical form of
    ``tests/compare.py`` (columns by name, rows sorted by every column).
    Column names compare case-insensitively and integer widths may differ
    between engines, so the expected column is cast to the received type."""
    from tests.compare import canon_arrow

    got = got.rename_columns([c.lower() for c in got.column_names])
    want = want.rename_columns([c.lower() for c in want.column_names])
    if sorted(got.column_names) != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    want = want.select(got.column_names)
    try:
        want = want.cast(pa.schema([pa.field(f.name, f.type) for f in got.schema]))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return False
    g, w = canon_arrow(got), canon_arrow(want)
    return all(g.column(c).equals(w.column(c)) for c in g.column_names)


def check_records(records: list[Record], expected: Callable[[Record], pa.Table | None]) -> None:
    """Mark every reply that differs from ``expected(record)`` as wrong
    (None: nothing to compare, the status reply is enough); drop replies."""
    for r in records:
        if r.error is None:
            want = expected(r)
            if want is not None and not same_result(r.result, want):
                r.wrong = True
        r.result = None


# -- statistics -----------------------------------------------------------------


def latencies_ms(records: list[Record]) -> list[float]:
    """Per-request latency; a failed request (error or wrong result) misses
    every latency bound, so it counts as infinitely slow."""
    return [math.inf if r.failed else r.latency_s * 1000 for r in records]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that has at least ``beyond`` samples above it
    in a sample of ``n`` (None when n is too small for any)."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def summarize(records: list[Record], wall: float) -> dict:
    """End-to-end figures of one timed window, plus the sample counts and
    the supported tail that qualify them."""
    lat = sorted(latencies_ms(records))
    n = len(lat)
    failed = sum(r.failed for r in records)
    writes = sorted(r.latency_s * 1000 for r in records if r.request.write and not r.failed)
    tail_p = tail_percentile(n)
    return {
        "latency_p50_ms": statistics.median(lat) if n else math.inf,
        "throughput_qps": (n - failed) / wall if wall > 0 else 0.0,
        "samples": n,
        "failed": failed,
        "error_ratio": failed / n if n else 1.0,
        "tail_percentile": tail_p,
        "latency_tail_ms": lat[n - 11] if tail_p is not None else None,
        "write_samples": len(writes),
        "write_p50_ms": statistics.median(writes) if writes else None,
        "wall_s": wall,
    }


def median_by_request(records: list[Record]) -> dict[str, float]:
    """Median latency (ms) of each request name, failures as infinite."""
    by: dict[str, list[float]] = {}
    for r, ms in zip(records, latencies_ms(records)):
        by.setdefault(r.request.name, []).append(ms)
    return {k: round(statistics.median(v), 3) for k, v in sorted(by.items())}


def errors_by_statement(records: list[Record]) -> dict[str, str]:
    """Each failing statement, named once with its first error."""
    out: dict[str, str] = {}
    for r in records:
        if r.failed:
            out.setdefault(r.request.name, r.error or "wrong result")
    return out

