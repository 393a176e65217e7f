"""Tests of the benchmark's own arithmetic and request streams (no Spark).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pyarrow as pa
import pytest

from perfbench import harness, workloads
from perfbench.trace import Span, lock_wait_ms, self_ms_by_layer, self_times
from perfbench.workloads import Request


def _records(latencies_s: list[float]) -> list[harness.Record]:
    req = Request("q", "sql", "SELECT 1")
    return [harness.Record(req, f"r{i}", 0.0, s) for i, s in enumerate(latencies_s)]


# -- percentile choice and sample counts ------------------------------------


def test_tail_percentile_leaves_ten_samples_beyond():
    assert harness.tail_percentile(10) is None
    assert harness.tail_percentile(11) == pytest.approx(100 / 11)
    assert harness.tail_percentile(100) == 90.0
    assert harness.tail_percentile(27) == pytest.approx(100 * 17 / 27)


def test_summary_reports_sample_count_and_supported_tail():
    recs = _records([i / 1000 for i in range(1, 28)])  # 1..27 ms
    s = harness.summarize(recs, wall=2.7)
    assert s["samples"] == 27
    assert s["latency_p50_ms"] == pytest.approx(14)
    # 17 ms is the sample with exactly ten samples above it
    assert s["latency_tail_ms"] == pytest.approx(17)
    assert s["tail_percentile"] == pytest.approx(100 * 17 / 27)
    assert s["throughput_qps"] == pytest.approx(10)


def test_summary_has_no_tail_below_eleven_samples():
    s = harness.summarize(_records([0.001] * 10), wall=1)
    assert s["tail_percentile"] is None and s["latency_tail_ms"] is None


# -- self time on synthetic nested spans --------------------------------------


def _tree() -> list[Span]:
    return [
        Span("client.request", 0.0, 10.0, None, "r1"),
        Span("protocol.handler", 1.0, 9.0, 0, "r1"),
        Span("protocol.parse", 1.0, 1.5, 1, "r1"),
        Span("engine.execute", 2.0, 8.0, 1, "r1"),
        Span("spark.sql", 2.5, 4.0, 3, "r1"),
        Span("spark.collect", 4.0, 7.0, 3, "r1"),
    ]


def test_self_time_is_span_minus_children():
    assert self_times(_tree()) == pytest.approx([2.0, 1.5, 0.5, 1.5, 1.5, 3.0])


def test_self_times_account_for_the_root_span():
    spans = _tree()
    by_layer = self_ms_by_layer(spans)
    assert sum(by_layer.values()) == pytest.approx(spans[0].duration * 1000)
    assert by_layer == pytest.approx(
        {"client": 2000, "protocol": 2000, "engine": 1500, "spark": 4500}
    )


def test_overlapping_children_are_not_counted_twice():
    spans = [
        Span("engine.execute", 0.0, 10.0),
        Span("spark.sql", 1.0, 5.0, 0),
        Span("spark.sql", 3.0, 6.0, 0),
        Span("spark.sql", 8.0, 12.0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10 - 5 - 2)


def test_lock_wait_excludes_request_parsing():
    # handler enters at 1.0, parses for 0.5, reaches Engine.execute at 2.0
    assert lock_wait_ms(_tree()) == pytest.approx(500)


# -- failures and wrong results in error_ratio ------------------------------------


def test_failing_statement_and_wrong_result_each_count_once():
    good = pa.table({"x": [1, 2]})
    items = [
        Request("ok", "sql", "ok", oracle="ok"),
        Request("boom", "sql", "boom", oracle="ok"),
        Request("wrong", "sql", "wrong", oracle="ok"),
        Request("ok2", "sql", "ok", oracle="ok"),
    ]

    def execute(req: Request, _rid: str) -> pa.Table:
        if req.text == "boom":
            raise RuntimeError("injected failure")
        if req.text == "wrong":
            return pa.table({"x": [1, 3]})
        return pa.table({"X": [2, 1]})  # order and case of names do not matter

    recs, wall = harness.run_closed_loop(execute, lambda _r: items, 0, "t")
    harness.check_records(recs, lambda r: good if r.request.oracle else None)
    s = harness.summarize(recs, wall)
    assert [r.failed for r in recs] == [False, True, True, False]
    assert s["failed"] == 2 and s["samples"] == 4 and s["error_ratio"] == 0.5
    assert sum(math.isinf(x) for x in harness.latencies_ms(recs)) == 2
    assert harness.errors_by_statement(recs) == {
        "boom": "RuntimeError: injected failure",
        "wrong": "wrong result",
    }
    assert all(r.result is None for r in recs)


def test_same_result_casts_integer_widths_and_rejects_other_values():
    got = pa.table({"a": pa.array([2, 1], pa.int32()), "b": ["y", "x"]})
    assert harness.same_result(got, pa.table({"B": ["x", "y"], "A": pa.array([1, 2], pa.int64())}))
    assert not harness.same_result(got, pa.table({"a": [1, 2], "b": ["x", "z"]}))
    assert not harness.same_result(got, pa.table({"a": [1], "b": ["x"]}))


def test_closed_loop_finishes_the_round_in_progress():
    recs, _ = harness.run_closed_loop(lambda _req, _rid: pa.table({}), lambda r: [Request(f"r{r}", "sql", "x")] * 3, 0, "t")
    assert [r.request.name for r in recs] == ["r0"] * 3


# -- seeded request streams -----------------------------------------------------------


def _streams(seed: int) -> list[list[Request]]:
    items = [Request(f"q{i}", "sql", f"SELECT {i}") for i in range(27)]
    reads = {n: Request(n, "sql", f"SELECT '{n}'") for n in workloads.RW_READS}
    return [
        workloads.interactive_round(items, seed, 0),
        workloads.transfer_round(seed, 0),
        workloads.rw_round(reads, seed, 0),
    ]


def test_same_seed_same_request_stream():
    assert _streams(7) == _streams(7)


def test_different_seed_different_request_stream():
    a, b = _streams(7), _streams(8)
    assert all(x != y for x, y in zip(a, b))


def test_rounds_keep_their_mix_whatever_the_seed():
    for seed in range(5):
        t = workloads.transfer_round(seed, 0)
        assert sorted(r.name for r in t) == sorted(
            f"{tb}_{fmt}_{n}" for tb, fmt, n in workloads.TRANSFER_LADDER
        )
        reads = {n: Request(n, "sql", n) for n in workloads.RW_READS}
        rw = workloads.rw_round(reads, seed, 0)
        kinds = [(r.session, r.name) for r in rw if r.write]
        assert sorted(kinds) == sorted((s, w) for s in range(workloads.RW_SESSIONS) for w in workloads.RW_WRITES)
        # the sessions take turns, request by request
        assert [r.session for r in rw] == [i % workloads.RW_SESSIONS for i in range(len(rw))]
        warm = workloads.rw_warm(reads, seed)
        assert sorted(r.name for r in warm if r.write) == sorted(workloads.RW_WRITES)
        assert {r.name for r in warm} >= set(workloads.RW_READS)


def test_merge_values_list_has_no_parentheses():
    # the engine's MERGE grammar ends a VALUES list at its first ')'
    merge = workloads._rw_write("merge", 0, workloads._rng(0, "t"))
    values = merge.text.split("VALUES (", 1)[1]
    assert values.count(")") == 1 and "(" not in values
