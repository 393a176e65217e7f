"""Engine lifecycle tests, modeled on the reference's integration suite
(SURVEY.md §5: extract.py / load.py / object_identifiers.py shapes, run
hermetically against the fixtures instead of live Snowflake)."""

from __future__ import annotations

import csv
import os

import pytest

from universql_spark.dialect import snowflake_to_spark, split_statements
from universql_spark.engine import Engine, QueryError


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark=spark, sf_dir=sf_dir)


# -- dialect unit tests -------------------------------------------------------


def test_split_statements_quotes_and_comments():
    stmts = split_statements(
        "SELECT 'a;b' AS x; -- trailing; comment\nSELECT 2 /* ; */ AS y;;\nSELECT ';' AS z"
    )
    assert len(stmts) == 3
    assert stmts[0] == "SELECT 'a;b' AS x"
    # a hint in a CTAS/INSERT query sets the written layout and reaches
    # Spark; elsewhere hints are comments
    assert split_statements("CREATE TABLE t AS SELECT /*+ REPARTITION(4) */ a /*+ c */ FROM s") == [
        "CREATE TABLE t AS SELECT /*+ REPARTITION(4) */ a  FROM s"
    ]
    assert split_statements("SELECT /*+ BROADCAST(s) */ a FROM s") == ["SELECT  a FROM s"]


def test_dialect_type_renames():
    out = snowflake_to_spark("SELECT CAST(x AS TIMESTAMP_LTZ), y::VARIANT, z::NUMBER(10,2) FROM t")
    assert "TIMESTAMP_LTZ" not in out
    assert "VARIANT" not in out
    assert "DECIMAL(10,2)" in out


def test_dialect_function_renames():
    out = snowflake_to_spark("SELECT IFF(a > 1, 'x', 'y'), LEN(s), ARRAY_CONSTRUCT(1,2)")
    assert "if(" in out and "length(" in out and "array(" in out


def test_dialect_backrefs():
    out = snowflake_to_spark(r"SELECT REGEXP_REPLACE(ref, '^https?://([^/]+)/.*$', '\1')")
    assert "'$1'" in out


def test_dialect_table_wrapper_strip():
    out = snowflake_to_spark("SELECT * FROM table(to_query('select 1'))")
    assert "table(" not in out.lower()
    assert "to_query(" in out


# -- engine lifecycle ---------------------------------------------------------


def test_select_literal(engine):
    assert engine.execute("SELECT 1 AS test").to_pylist() == [{"test": 1}]


def test_multi_statement_returns_last(engine):
    out = engine.execute("SELECT 1 AS a; SELECT 2 AS b")
    assert out.to_pylist() == [{"b": 2}]


def test_snowflake_dialect_query(engine):
    out = engine.execute(
        "SELECT IFF(o_totalprice > 0, 'pos', 'neg') AS s, o_orderkey "
        "FROM orders ORDER BY o_orderkey LIMIT 1"
    )
    assert out.to_pylist()[0]["s"] == "pos"


def test_error_then_recover(engine):
    # reference: a failed query must not kill the session (extract.py:45-50)
    with pytest.raises(QueryError):
        engine.execute("SELECT * FROM no_such_table_xyz")
    assert engine.execute("SELECT 1 AS ok").to_pylist() == [{"ok": 1}]


def test_temp_ctas_and_readback(engine):
    engine.execute(
        "CREATE TEMP TABLE my_temp AS SELECT o_orderkey, o_totalprice FROM orders LIMIT 5"
    )
    out = engine.execute("SELECT COUNT(*) AS c FROM my_temp")
    assert out.to_pylist() == [{"c": 5}]


def test_create_or_replace_view(engine):
    engine.execute("CREATE OR REPLACE TEMP VIEW v_orders AS SELECT o_orderkey FROM orders LIMIT 3")
    assert engine.execute("SELECT COUNT(*) AS c FROM v_orders").to_pylist() == [{"c": 3}]


def test_use_database_state(engine):
    engine.execute("USE DATABASE analytics")
    assert engine.session.database == "analytics"
    engine.execute("USE SCHEMA public")
    assert engine.session.schema == "public"


def test_to_query_duckdb_escape_hatch(engine):
    out = engine.execute("SELECT * FROM table(to_query('SELECT 41 + 1 AS answer'))")
    assert out.to_pylist() == [{"answer": 42}]


def test_ctas_insert_drop_roundtrip(engine):
    engine.execute("CREATE OR REPLACE TABLE managed_t AS SELECT o_orderkey, o_orderstatus FROM orders LIMIT 10")
    assert engine.execute("SELECT COUNT(*) AS c FROM managed_t").to_pylist() == [{"c": 10}]
    engine.execute("INSERT INTO managed_t SELECT o_orderkey, o_orderstatus FROM orders LIMIT 2")
    assert engine.execute("SELECT COUNT(*) AS c FROM managed_t").to_pylist() == [{"c": 12}]
    engine.execute("DROP TABLE managed_t")
    with pytest.raises(QueryError):
        engine.execute("SELECT * FROM managed_t")


def test_copy_into_csv(engine, tmp_path):
    # reference shape: COPY INTO t FROM @stage/file.csv FILE_FORMAT=(SKIP_HEADER=1)
    # then count (tests/integration/extract.py:58-82)
    p = tmp_path / "stage_data.csv"
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "name"])
        for i in range(7):
            w.writerow([i, f"row{i}"])
    engine.execute("CREATE OR REPLACE TABLE copy_target AS SELECT CAST(1 AS INT) AS id, 'x' AS name WHERE 1 = 0")
    out = engine.execute(
        f"COPY INTO copy_target FROM '{p}' FILE_FORMAT = (TYPE = CSV, SKIP_HEADER = 1)"
    )
    assert out.to_pylist()[0]["rows_loaded"] == 7
    assert engine.execute("SELECT COUNT(*) AS c FROM copy_target").to_pylist() == [{"c": 7}]
    engine.execute("DROP TABLE copy_target")


def test_show_tables(engine):
    out = engine.execute("SHOW TABLES")
    names = {r["tableName"] for r in out.to_pylist()}
    assert "orders" in names and "lineitem" in names


def test_multi_statement_script_ddl(engine):
    # reference object_identifiers-style batch: DDL x N + final SELECT
    out = engine.execute(
        """CREATE OR REPLACE TEMP VIEW s1 AS SELECT 1 AS v;
           CREATE OR REPLACE TEMP VIEW s2 AS SELECT 2 AS v;
           SELECT (SELECT v FROM s1) + (SELECT v FROM s2) AS total"""
    )
    assert out.to_pylist() == [{"total": 3}]


def test_case_insensitive_identifiers(engine):
    out = engine.execute('SELECT O_OrderKey FROM ORDERS ORDER BY o_orderkey LIMIT 1')
    assert len(out.to_pylist()) == 1


# -- DML (DELETE / UPDATE / MERGE) -------------------------------------------


def test_delete_update_roundtrip(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE dml_t AS SELECT o_orderkey AS id, o_totalprice AS price, o_orderstatus AS st FROM orders LIMIT 20"
    )
    out = engine.execute("DELETE FROM dml_t WHERE id % 2 = 0")
    deleted = out.to_pylist()[0]["rows_deleted"]
    assert deleted > 0
    assert engine.execute("SELECT COUNT(*) AS c FROM dml_t WHERE id % 2 = 0").to_pylist() == [{"c": 0}]
    out = engine.execute("UPDATE dml_t SET price = price * 2, st = 'X' WHERE id > 10")
    n = out.to_pylist()[0]["rows_updated"]
    assert n >= 0
    assert engine.execute(
        "SELECT COUNT(*) AS c FROM dml_t WHERE id > 10 AND st <> 'X'"
    ).to_pylist() == [{"c": 0}]
    engine.execute("DROP TABLE dml_t")


def test_merge_upsert(engine):
    engine.execute("CREATE OR REPLACE TABLE m_target AS SELECT CAST(1 AS BIGINT) AS id, 'a' AS v "
                   "UNION ALL SELECT 2, 'b'")
    engine.execute("CREATE OR REPLACE TABLE m_source AS SELECT CAST(2 AS BIGINT) AS id, 'B' AS v "
                   "UNION ALL SELECT 3, 'c'")
    engine.execute(
        """MERGE INTO m_target t USING m_source s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
    )
    rows = sorted(engine.execute("SELECT id, v FROM m_target").to_pylist(), key=lambda r: r["id"])
    assert rows == [{"id": 1, "v": "a"}, {"id": 2, "v": "B"}, {"id": 3, "v": "c"}]
    engine.execute("DROP TABLE m_target; DROP TABLE m_source")


def test_lateral_flatten(engine):
    out = engine.execute(
        "SELECT t.id, f.value AS el FROM (SELECT 1 AS id, ARRAY_CONSTRUCT(10, 20) AS arr) t, "
        "LATERAL FLATTEN(input => t.arr) f"
    )
    assert sorted(r["el"] for r in out.to_pylist()) == [10, 20]


def test_stage_positional_columns(engine, tmp_path):
    # reference scratch probe: SELECT ascii(t.$1) FROM @stage (file_format => f) t
    # (tests/scratch/sqlglot_tests.py:20-25)
    p = tmp_path / "raw.csv"
    p.write_text("a,1\nb,2\nc,3\n")
    engine.execute(f"CREATE STAGE raw_stage URL = '{tmp_path}'")
    engine.execute("CREATE FILE FORMAT ff_csv TYPE = CSV")
    out = engine.execute(
        "SELECT t.$1 AS letter, t.$2 AS num FROM @raw_stage/raw.csv (FILE_FORMAT => ff_csv) t "
        "ORDER BY letter"
    )
    rows = out.to_pylist()
    assert [r["letter"] for r in rows] == ["a", "b", "c"]
    assert [r["num"] for r in rows] == [1, 2, 3]


def test_current_warehouse_udf(engine):
    assert engine.execute("SELECT current_warehouse() AS w").to_pylist() == [{"w": "x-spark"}]


def test_result_contract():
    import pyarrow as pa
    from universql_spark.result import normalize, rowtype

    t = pa.table({
        "i": pa.array([1, 2], pa.int64()),
        "s": pa.array(["x", None], pa.utf8()),
        "arr": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
    })
    rt = rowtype(t)
    assert [r["type"] for r in rt] == ["fixed", "text", "array"]
    norm = normalize(t)
    assert norm.schema.field("arr").type == pa.utf8()
    assert norm.column("arr").to_pylist() == ["[1, 2]", "[3]"]


def test_identifier_indirection(engine):
    out = engine.execute("SELECT COUNT(*) AS c FROM IDENTIFIER('orders')")
    assert out.to_pylist()[0]["c"] > 0


def test_query_log_cost(engine):
    engine.execute("SELECT 1 AS a; SELECT 2 AS b")
    assert [r["sql"] for r in list(engine.query_log)[-2:]] == ["SELECT 1 AS a", "SELECT 2 AS b"]
    entry = engine.query_log[-1]
    assert entry["duration_sec"] >= 0 and entry["estimated_cost_usd"] >= 0


def test_object_construct_scalar_subquery(engine):
    # reference ALL_COLUMNS gallery includes OBJECT_CONSTRUCT('k', (SELECT 1))
    out = engine.execute("SELECT OBJECT_CONSTRUCT('k', (SELECT 1)) AS o")
    assert out.to_pylist()[0]["o"] == {"k": 1}


def test_snowflake_sample_clause(engine):
    """Snowflake SAMPLE [method] (n [ROWS]) [SEED(s)] -> Spark TABLESAMPLE."""
    total = engine.execute("SELECT COUNT(*) AS c FROM orders").to_pylist()[0]["c"]
    c = engine.execute(
        "SELECT COUNT(*) AS c FROM orders SAMPLE (20) SEED (42)"
    ).to_pylist()[0]["c"]
    assert 0 < c < total
    rows = engine.execute("SELECT * FROM orders SAMPLE (10 ROWS)")
    assert len(rows) == 10
    rows = engine.execute("SELECT * FROM orders SAMPLE BERNOULLI (5 ROWS)")
    assert len(rows) == 5
    # deterministic with a seed: same rows both times
    a = engine.execute("SELECT COUNT(*) AS c FROM orders SAMPLE (30) REPEATABLE (7)")
    b = engine.execute("SELECT COUNT(*) AS c FROM orders SAMPLE (30) REPEATABLE (7)")
    assert a.to_pylist() == b.to_pylist()


def test_generator_rowcount(engine):
    """TABLE(GENERATOR(ROWCOUNT => n)) + SEQ4() — the Snowflake synthetic
    rows idiom -> Spark's range TVF."""
    out = engine.execute(
        "SELECT SEQ4() AS n FROM TABLE(GENERATOR(ROWCOUNT => 5)) ORDER BY n"
    )
    assert [r["n"] for r in out.to_pylist()] == [0, 1, 2, 3, 4]
    out = engine.execute(
        "SELECT COUNT(*) AS c, MIN(u) AS lo, MAX(u) AS hi FROM "
        "(SELECT UNIFORM(1, 6, RANDOM()) AS u FROM TABLE(GENERATOR(ROWCOUNT => 200)))"
    )
    row = out.to_pylist()[0]
    assert row["c"] == 200 and 1 <= row["lo"] and row["hi"] <= 6


def test_decode_function(engine):
    out = engine.execute(
        "SELECT DECODE(x, 1, 'one', 2, 'two', NULL, 'none', 'other') AS d "
        "FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3 "
        "UNION ALL SELECT NULL) ORDER BY d"
    )
    assert sorted(r["d"] for r in out.to_pylist()) == ["none", "one", "other", "two"]
    # Spark's own 2-arg decode(bin, charset) is untouched
    out = engine.execute("SELECT decode(encode('hi', 'utf-8'), 'utf-8') AS s")
    assert out.to_pylist() == [{"s": "hi"}]


def test_div0_and_dollar_quotes(engine):
    out = engine.execute(
        "SELECT DIV0(10, 2) AS a, DIV0(1, 0) AS b, "
        "DIV0NULL(1, NULL) AS c, $$it's $x$$ AS s"
    )
    row = out.to_pylist()[0]
    assert row["a"] == 5.0 and row["b"] == 0 and row["c"] == 0
    assert row["s"] == "it's $x"


def test_try_to_number_precision_scale(engine):
    out = engine.execute(
        "SELECT TRY_TO_NUMBER('12.345', 10, 2) AS n, TRY_TO_NUMBER('bad') AS x, "
        "TRY_TO_TIMESTAMP('2024-01-01 10:00:00') AS ts_ok, "
        "TRY_TO_TIMESTAMP('nope') AS ts_bad"
    )
    row = out.to_pylist()[0]
    assert str(row["n"]) == "12.35" and row["x"] is None
    assert row["ts_ok"] is not None and row["ts_bad"] is None


def test_tablesample_sql(engine):
    out = engine.execute("SELECT COUNT(*) AS c FROM orders TABLESAMPLE (20 PERCENT) REPEATABLE (42)")
    total = engine.execute("SELECT COUNT(*) AS c FROM orders").to_pylist()[0]["c"]
    c = out.to_pylist()[0]["c"]
    assert 0 < c < total


def test_qualify_window_form(engine):
    out = engine.execute(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2 "
        "ORDER BY o_custkey, o_totalprice DESC LIMIT 10"
    )
    rows = out.to_pylist()
    assert 0 < len(rows) <= 10
    assert "__qualify" not in out.column_names
    per_cust = {}
    for r in rows:
        per_cust[r["o_custkey"]] = per_cust.get(r["o_custkey"], 0) + 1
    assert all(v <= 2 for v in per_cust.values())


def test_qualify_alias_form(engine):
    out = engine.execute(
        "SELECT o_custkey, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn "
        "FROM orders QUALIFY rn = 1 ORDER BY o_custkey LIMIT 5"
    )
    assert all(r["rn"] == 1 for r in out.to_pylist())


def test_copy_into_json(engine, tmp_path):
    import json as _json

    p = tmp_path / "data.jsonl"
    with open(p, "w") as f:
        for i in range(5):
            f.write(_json.dumps({"id": i, "name": f"j{i}"}) + "\n")
    engine.execute("CREATE OR REPLACE TABLE json_target AS SELECT CAST(1 AS BIGINT) AS id, 'x' AS name WHERE 1 = 0")
    out = engine.execute(f"COPY INTO json_target FROM '{p}' FILE_FORMAT = (TYPE = JSON)")
    assert out.to_pylist()[0]["rows_loaded"] == 5
    engine.execute("DROP TABLE json_target")


def test_describe_table(engine):
    out = engine.execute("DESCRIBE orders")
    cols = {r["col_name"] for r in out.to_pylist()}
    assert "o_orderkey" in cols


def test_to_date_format_mapping(engine):
    out = engine.execute("SELECT TO_DATE('2024/03/05', 'YYYY/MM/DD') AS d, "
                         "TO_TIMESTAMP('2024-03-05 13:45:07', 'YYYY-MM-DD HH24:MI:SS') AS ts_h")
    row = out.to_pylist()[0]
    assert str(row["d"]) == "2024-03-05"
    assert "13:45:07" in str(row["ts_h"])


def test_merge_matched_delete(engine):
    engine.execute("CREATE OR REPLACE TABLE md_t AS SELECT CAST(1 AS BIGINT) AS id UNION ALL SELECT 2 UNION ALL SELECT 3")
    engine.execute("CREATE OR REPLACE TABLE md_s AS SELECT CAST(2 AS BIGINT) AS id")
    engine.execute("MERGE INTO md_t t USING md_s s ON t.id = s.id WHEN MATCHED THEN DELETE")
    ids = sorted(r["id"] for r in engine.execute("SELECT id FROM md_t").to_pylist())
    assert ids == [1, 3]
    engine.execute("DROP TABLE md_t; DROP TABLE md_s")


def test_update_without_where(engine):
    engine.execute("CREATE OR REPLACE TABLE uw_t AS SELECT CAST(1 AS BIGINT) AS id, 10.0 AS v UNION ALL SELECT 2, 20.0")
    out = engine.execute("UPDATE uw_t SET v = v + 1")
    assert out.to_pylist()[0]["rows_updated"] == 2
    vals = sorted(r["v"] for r in engine.execute("SELECT v FROM uw_t").to_pylist())
    assert vals == [11.0, 21.0]
    engine.execute("DROP TABLE uw_t")


def test_update_simultaneous_assignment(engine):
    # SQL UPDATE semantics: SET a = b, b = a swaps (no sequential leakage)
    engine.execute("CREATE OR REPLACE TABLE swap_t AS SELECT 1.0 AS a, 2.0 AS b")
    engine.execute("UPDATE swap_t SET a = b, b = a")
    row = engine.execute("SELECT a, b FROM swap_t").to_pylist()[0]
    assert row == {"a": 2.0, "b": 1.0}
    engine.execute("DROP TABLE swap_t")


def test_ctas_parenthesized_body(engine):
    engine.execute("CREATE OR REPLACE TEMP TABLE par_t AS (SELECT 7 AS x)")
    assert engine.execute("SELECT x FROM par_t").to_pylist() == [{"x": 7}]


def test_ctas_union_of_parens(engine):
    engine.execute("CREATE OR REPLACE TEMP TABLE pu_t AS (SELECT 1 AS x) UNION ALL (SELECT 2 AS x)")
    assert sorted(r["x"] for r in engine.execute("SELECT x FROM pu_t").to_pylist()) == [1, 2]


# -- round-2 dialect/DML fixes (ADVICE r1) ------------------------------------


def test_charindex_arg_order(engine):
    # Snowflake CHARINDEX(substr, str) — instr would silently swap the args
    assert engine.execute("SELECT CHARINDEX('lo', 'hello') AS p").to_pylist() == [{"p": 4}]
    assert engine.execute("SELECT CHARINDEX('zz', 'hello') AS p").to_pylist() == [{"p": 0}]


def test_strtok_to_array_char_delims(engine):
    # delimiter is a CHARACTER SET, not a regex; empty tokens are dropped
    out = engine.execute("SELECT STRTOK_TO_ARRAY('a.b..c', '.') AS a").to_pylist()
    assert out[0]["a"] == ["a", "b", "c"]
    out = engine.execute("SELECT STRTOK_TO_ARRAY('x,y;z', ',;') AS a").to_pylist()
    assert out[0]["a"] == ["x", "y", "z"]
    out = engine.execute("SELECT STRTOK_TO_ARRAY('a b') AS a").to_pylist()
    assert out[0]["a"] == ["a", "b"]


def test_backref_pattern_arg_preserved(engine):
    # \1 in the PATTERN argument is a real regex backreference and must
    # survive; only the replacement argument maps \N -> $N
    out = engine.execute(r"SELECT REGEXP_REPLACE('aa-pat', '(a)\\1', 'z') AS r").to_pylist()
    assert out[0]["r"] == "z-pat"
    out = engine.execute(r"SELECT REGEXP_REPLACE('pat', 'p(a)t', '\\1!') AS r").to_pylist()
    assert out[0]["r"] == "a!"


def test_flatten_nested_parens(engine):
    out = engine.execute(
        "SELECT f.value AS v FROM (SELECT 'a,b' AS s) t, "
        "LATERAL FLATTEN(input => split(concat(s, ',c'), ',')) f"
    ).to_pylist()
    assert [r["v"] for r in out] == ["a", "b", "c"]


def test_merge_nondeterministic_errors(engine):
    engine.execute("CREATE OR REPLACE TABLE nd_t AS SELECT CAST(1 AS BIGINT) AS id, 'a' AS v")
    engine.execute(
        "CREATE OR REPLACE TABLE nd_s AS SELECT CAST(1 AS BIGINT) AS id, 'x' AS v "
        "UNION ALL SELECT 1, 'y'"
    )
    with pytest.raises(QueryError, match="(?i)more than one source row"):
        engine.execute(
            "MERGE INTO nd_t t USING nd_s s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    # target untouched after the error
    assert engine.execute("SELECT v FROM nd_t").to_pylist() == [{"v": "a"}]
    engine.execute("DROP TABLE nd_t; DROP TABLE nd_s")


def test_qualified_ctas_no_collision(engine):
    # reference object-identifier matrix is 3-part qualified
    # (tests/integration/object_identifiers.py:79-117): db1.s.t and db2.s.t
    # must be distinct objects
    engine.execute("CREATE OR REPLACE TABLE qdb1.s.t AS SELECT 1 AS x")
    engine.execute("CREATE OR REPLACE TABLE qdb2.s.t AS SELECT 2 AS x")
    assert engine.execute("SELECT x FROM qdb1.s.t").to_pylist() == [{"x": 1}]
    assert engine.execute("SELECT x FROM qdb2.s.t").to_pylist() == [{"x": 2}]
    engine.execute("DROP TABLE qdb1.s.t; DROP TABLE qdb2.s.t")


def test_qualified_two_part_ctas(engine):
    engine.execute("CREATE OR REPLACE TABLE qdb3.t2 AS SELECT 5 AS x")
    assert engine.execute("SELECT x FROM qdb3.t2").to_pylist() == [{"x": 5}]
    engine.execute("DROP TABLE qdb3.t2")


def test_qualified_dml_targets(engine):
    engine.execute("CREATE OR REPLACE TABLE qdb4.s.d AS SELECT 1 AS id UNION ALL SELECT 2")
    engine.execute("DELETE FROM qdb4.s.d WHERE id = 1")
    assert engine.execute("SELECT id FROM qdb4.s.d").to_pylist() == [{"id": 2}]
    engine.execute("UPDATE qdb4.s.d SET id = 9")
    assert engine.execute("SELECT id FROM qdb4.s.d").to_pylist() == [{"id": 9}]
    engine.execute("DROP TABLE qdb4.s.d")


def test_copy_into_single_scan(engine, tmp_path, monkeypatch):
    # VERDICT r1 #1: COPY must read the source once — rows_loaded rides the
    # write as an Observation metric; df.count() (a second scan) is banned
    from pyspark.sql import DataFrame

    p = tmp_path / "single.csv"
    p.write_text("id,v\n1,a\n2,b\n")
    engine.execute("CREATE OR REPLACE TABLE cis_t AS SELECT CAST(1 AS INT) AS id, 'x' AS v WHERE 1 = 0")

    def boom(self):
        raise AssertionError("COPY INTO must not rescan the source via count()")

    monkeypatch.setattr(DataFrame, "count", boom)
    out = engine.execute(
        f"COPY INTO cis_t FROM '{p}' FILE_FORMAT = (TYPE = CSV, SKIP_HEADER = 1)"
    )
    monkeypatch.undo()
    assert out.to_pylist()[0]["rows_loaded"] == 2
    engine.execute("DROP TABLE cis_t")


def _table_files(engine, table):
    """{data file: mtime} of a table: a snapshot table's current snapshot,
    else the parquet files under a catalog table's location."""
    import os

    snap = engine.snap_tables.get(table)
    if snap is not None:
        return {f: os.stat(f).st_mtime_ns for f in snap.current_files()}
    loc = (
        engine.spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    ).replace("file:", "")
    out = {}
    for root, _dirs, files in os.walk(loc):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def test_partitioned_merge_rewrites_one_partition(engine):
    # VERDICT r1 'Next round' #1 done-criterion: a 1-row MERGE on a
    # partitioned table rewrites LESS than the full table — untouched
    # partitions keep their exact files (same paths, same mtimes)
    engine.execute(
        "CREATE OR REPLACE TABLE pgm_t PARTITION BY (p) AS "
        "SELECT id, CAST(id * 10 AS BIGINT) AS v, CAST(id % 3 AS INT) AS p "
        "FROM range(30) AS r(id)"
    )
    before = _table_files(engine, "pgm_t")
    assert len(before) >= 3  # one file per partition at least
    engine.execute(
        "CREATE OR REPLACE TABLE pgm_s AS SELECT CAST(4 AS BIGINT) AS id, "
        "CAST(999 AS BIGINT) AS v, CAST(1 AS INT) AS p"
    )
    engine.execute(
        "MERGE INTO pgm_t t USING pgm_s s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    after = _table_files(engine, "pgm_t")
    untouched_before = {f: m for f, m in before.items() if "/__p_p=1/" not in f}
    untouched_after = {f: m for f, m in after.items() if "/__p_p=1/" not in f}
    assert untouched_before == untouched_after  # p=0, p=2 files identical
    assert {f for f in before if "/__p_p=1/" in f} != {f for f in after if "/__p_p=1/" in f}
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM pgm_t").to_pylist()}
    assert rows[4] == 999 and rows[5] == 50 and len(rows) == 30
    engine.execute("DROP TABLE pgm_t; DROP TABLE pgm_s")


def test_unpartitioned_delete_adopts_file_granular(engine):
    """VERDICT r2 'Next round' #3 done-criterion: a 1-row DELETE on an
    UNPARTITIONED plain table must not rewrite the whole table. A plain
    CTAS is an Iceberg table from its CREATE, so the DELETE rewrites ONLY
    the file holding the matched row; the others keep their paths and
    mtimes."""
    engine.execute(
        "CREATE OR REPLACE TABLE upd_t AS "
        "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 10) AS r(id)"
    )
    for lo in (10, 20, 30):  # each append adds its own data file
        engine.execute(f"INSERT INTO upd_t SELECT id, id * 10 FROM range({lo}, {lo + 10}) AS r(id)")
    before = _table_files(engine, "upd_t")
    assert len(before) == 4
    out = engine.execute("DELETE FROM upd_t WHERE id = 3").to_pylist()
    assert out == [{"rows_deleted": 1, "files_rewritten": 1}]
    after = _table_files(engine, "upd_t")
    survivors = set(before) & set(after)
    assert len(survivors) == len(before) - 1
    assert all(after[f] == before[f] for f in survivors)
    assert len(after) <= len(before)  # 1 file replaced, not the table
    rows = {r["id"] for r in engine.execute("SELECT id FROM upd_t").to_pylist()}
    assert rows == set(range(40)) - {3}
    engine.execute("UPDATE upd_t SET v = 0 WHERE id = 5")
    assert engine.execute("SELECT v FROM upd_t WHERE id = 5").to_pylist() == [{"v": 0}]
    engine.execute("DROP TABLE upd_t")


@pytest.mark.parametrize(
    "case",
    ["optimize", "vacuum", "clone", "branch", "partition_field", "clustering", "merge_on_read"],
)
def test_adopted_plain_table_takes_iceberg_statements(engine, case):
    """A plain table is an Iceberg v2 table from its CREATE, so the
    statements of a CREATE ICEBERG TABLE work on it before any DML."""
    import json

    from universql_spark.iceberg_format import IcebergTable

    t = f"adp_{case}"
    engine.execute(
        f"CREATE OR REPLACE TABLE {t} AS "
        "SELECT id, CAST(id * 10 AS BIGINT) AS v FROM range(0, 40, 1, 4) AS r(id)"
    )
    snap = engine.snap_tables[t]
    assert isinstance(snap, IcebergTable)
    engine.execute("CREATE OR REPLACE ICEBERG TABLE adp_ice AS SELECT 1 AS id")

    def snapshot_cols(name):
        return engine.execute(f"SELECT * FROM {name}$snapshots").column_names

    assert snapshot_cols(t) == snapshot_cols("adp_ice")

    def rows(name):
        return sorted((r["id"], r["v"]) for r in engine.execute(f"SELECT id, v FROM {name}").to_pylist())

    before = rows(t)
    assert [i for i, _v in before] == list(range(40))
    if case == "optimize":
        engine.execute(f"OPTIMIZE {t}")
        assert rows(t) == before
    elif case == "vacuum":
        engine.execute(f"VACUUM {t} RETAIN 1 SNAPSHOTS")
        assert rows(t) == before
    elif case == "clone":
        engine.execute(f"CREATE OR REPLACE TABLE {t}_cl CLONE {t}")
        assert rows(f"{t}_cl") == before
        engine.execute(f"DROP TABLE {t}_cl")
    elif case == "branch":
        engine.execute(f"ALTER TABLE {t} CREATE BRANCH dev")
        refs = engine.execute(f"SELECT name, type FROM {t}$refs").to_pylist()
        assert refs == [{"name": "dev", "type": "BRANCH"}]
    elif case == "partition_field":
        engine.execute(f"ALTER TABLE {t} ADD PARTITION FIELD v")
        engine.execute(f"INSERT INTO {t} VALUES (100, 1000)")
        specs = engine.execute(f"SELECT partition_spec_id FROM {t}$manifests").to_pydict()
        assert specs["partition_spec_id"] == [1]
    elif case == "clustering":
        out = engine.execute(
            f"SELECT SYSTEM$CLUSTERING_INFORMATION('{t}', '(id)') AS ci"
        ).to_pylist()[0]["ci"]
        assert json.loads(out)["total_partition_count"] == len(snap.current_files())
    elif case == "merge_on_read":
        engine.execute(f"ALTER TABLE {t} SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
        files = set(snap.current_files())
        engine.execute(f"DELETE FROM {t} WHERE id = 5")
        assert set(snap.current_files()) == files
        assert snap.current_delete_files()
        assert rows(t) == [r for r in before if r[0] != 5]
    engine.execute(f"DROP TABLE {t}; DROP TABLE adp_ice")


def test_plain_table_without_iceberg_type_keeps_shadow_swap(engine):
    """A column type Iceberg cannot express (an interval) makes CREATE fall
    back to a catalog table, which DELETE rewrites whole."""
    engine.execute(
        "CREATE OR REPLACE TABLE adp_ivl AS "
        "SELECT id, INTERVAL '1' DAY AS i FROM range(0, 8, 1, 2) AS r(id)"
    )
    assert "adp_ivl" not in engine.snap_tables
    assert not os.path.exists(engine._snap_root("adp_ivl"))
    assert engine.spark.catalog.tableExists("adp_ivl")
    assert engine.execute("DELETE FROM adp_ivl WHERE id = 3").to_pylist() == [{"rows_deleted": 1}]
    ids = sorted(r["id"] for r in engine.execute("SELECT id FROM adp_ivl").to_pylist())
    assert ids == [0, 1, 2, 4, 5, 6, 7]
    engine.execute("DROP TABLE adp_ivl")


def test_partitioned_merge_insert_appends_only(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE pgi_t PARTITION BY (p) AS "
        "SELECT id, CAST(id AS BIGINT) AS v, CAST(id % 2 AS INT) AS p FROM range(10) AS r(id)"
    )
    before = _table_files(engine, "pgi_t")
    engine.execute(
        "CREATE OR REPLACE TABLE pgi_s AS SELECT CAST(100 AS BIGINT) AS id, "
        "CAST(7 AS BIGINT) AS v, CAST(0 AS INT) AS p"
    )
    out = engine.execute(
        "MERGE INTO pgi_t t USING pgi_s s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)"
    )
    assert out.to_pylist()[0]["rows_inserted"] == 1
    after = _table_files(engine, "pgi_t")
    # pure insert: every pre-existing file survives byte-identical (append),
    # in EVERY partition including the one receiving the new row
    assert all(after.get(f) == m for f, m in before.items())
    assert engine.execute("SELECT COUNT(*) AS c FROM pgi_t").to_pylist() == [{"c": 11}]
    engine.execute("DROP TABLE pgi_t; DROP TABLE pgi_s")


def test_partitioned_delete_drops_dead_partition(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE pgd_t PARTITION BY (p) AS "
        "SELECT id, CAST(id % 3 AS INT) AS p FROM range(30) AS r(id)"
    )
    before = _table_files(engine, "pgd_t")
    engine.execute("DELETE FROM pgd_t WHERE p = 2 OR id = 3")  # kills p=2; 1 row from p=0
    after = _table_files(engine, "pgd_t")
    # p=1 untouched
    assert {f: m for f, m in before.items() if "/__p_p=1/" in f} == {
        f: m for f, m in after.items() if "/__p_p=1/" in f
    }
    assert not any("/__p_p=2/" in f for f in after)  # dead partition dropped
    ids = sorted(r["id"] for r in engine.execute("SELECT id FROM pgd_t").to_pylist())
    assert len(ids) == 19 and 3 not in ids and all(i % 3 != 2 for i in ids)
    engine.execute("DROP TABLE pgd_t")


def test_partitioned_update_rewrites_matched_partitions_only(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE pgu_t PARTITION BY (p) AS "
        "SELECT id, CAST(id AS BIGINT) AS v, CAST(id % 3 AS INT) AS p FROM range(30) AS r(id)"
    )
    before = _table_files(engine, "pgu_t")
    engine.execute("UPDATE pgu_t SET v = v * 100 WHERE p = 0")
    after = _table_files(engine, "pgu_t")
    for part in ("/__p_p=1/", "/__p_p=2/"):
        assert {f: m for f, m in before.items() if part in f} == {
            f: m for f, m in after.items() if part in f
        }, part
    vals = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM pgu_t").to_pylist()}
    assert vals[0] == 0 and vals[3] == 300 and vals[1] == 1 and vals[2] == 2
    engine.execute("DROP TABLE pgu_t")


def test_update_partition_column_falls_back(engine):
    # assignment writes the partition column -> rows migrate partitions ->
    # whole-table path; correctness over cleverness
    engine.execute(
        "CREATE OR REPLACE TABLE pgf_t PARTITION BY (p) AS "
        "SELECT id, CAST(id % 2 AS INT) AS p FROM range(6) AS r(id)"
    )
    engine.execute("UPDATE pgf_t SET p = 5 WHERE id = 0")
    rows = {r["id"]: r["p"] for r in engine.execute("SELECT id, p FROM pgf_t").to_pylist()}
    assert rows[0] == 5 and rows[1] == 1 and len(rows) == 6
    engine.execute("DROP TABLE pgf_t")


def test_merge_multi_clause(engine):
    # first-true-clause-wins across conditional UPDATE / DELETE / INSERT
    engine.execute(
        "CREATE OR REPLACE TABLE mc_t AS "
        "SELECT CAST(1 AS BIGINT) AS id, 10.0 AS v UNION ALL SELECT 2, 20.0 "
        "UNION ALL SELECT 3, 30.0 UNION ALL SELECT 4, 40.0"
    )
    engine.execute(
        "CREATE OR REPLACE TABLE mc_s AS "
        "SELECT CAST(1 AS BIGINT) AS id, 'del' AS op, 0.0 AS nv "
        "UNION ALL SELECT 2, 'upd', 99.0 UNION ALL SELECT 3, 'other', 7.0 "
        "UNION ALL SELECT 5, 'big', 500.0 UNION ALL SELECT 6, 'small', 6.0"
    )
    engine.execute(
        """MERGE INTO mc_t t USING mc_s s ON t.id = s.id
           WHEN MATCHED AND s.op = 'del' THEN DELETE
           WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET v = s.nv
           WHEN MATCHED THEN UPDATE SET v = t.v + 1
           WHEN NOT MATCHED AND s.nv > 100 THEN INSERT (id, v) VALUES (s.id, s.nv)
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1.0)"""
    )
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM mc_t").to_pylist()}
    # 1 deleted; 2 -> 99 (second clause); 3 -> 31 (fallthrough update);
    # 4 untouched; 5 inserted at 500 (nv>100); 6 inserted at -1 (fallthrough)
    assert rows == {2: 99.0, 3: 31.0, 4: 40.0, 5: 500.0, 6: -1.0}
    engine.execute("DROP TABLE mc_t; DROP TABLE mc_s")


def test_merge_multi_clause_partitioned(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE mcp_t PARTITION BY (p) AS "
        "SELECT id, CAST(id AS BIGINT) AS v, CAST(id % 2 AS INT) AS p FROM range(8) AS r(id)"
    )
    engine.execute(
        "CREATE OR REPLACE TABLE mcp_s AS SELECT CAST(2 AS BIGINT) AS id "
        "UNION ALL SELECT 3 UNION ALL SELECT 4"
    )
    before = _table_files(engine, "mcp_t")
    engine.execute(
        """MERGE INTO mcp_t t USING mcp_s s ON t.id = s.id
           WHEN MATCHED AND t.id = 3 THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = t.v * 100"""
    )
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM mcp_t").to_pylist()}
    assert 3 not in rows and rows[2] == 200 and rows[4] == 400 and rows[5] == 5
    assert len(rows) == 7
    engine.execute("DROP TABLE mcp_t; DROP TABLE mcp_s")


#: CREATE statements for each DML target kind: Iceberg, plain,
#: partitioned and TEMP tables (all Iceberg from their CREATE) and a
#: qualified catalog table (replaced whole)
_DML_KINDS = {
    "iceberg": "CREATE OR REPLACE ICEBERG TABLE {t} AS {q}",
    "plain": "CREATE OR REPLACE TABLE {t} AS {q}",
    "partitioned": "CREATE OR REPLACE TABLE {t} PARTITION BY (p) AS {q}",
    "qualified": "CREATE OR REPLACE TABLE {t} AS {q}",
    "temp": "CREATE OR REPLACE TEMP TABLE {t} AS {q}",
}


@pytest.mark.parametrize("kind", list(_DML_KINDS))
def test_delete_keeps_null_condition_rows(engine, kind):
    """DELETE removes the rows whose condition is TRUE: a NULL condition
    keeps the row (NOT coalesce(cond, false)) on every target kind."""
    t = "ndq.s.nd_t" if kind == "qualified" else f"nd_{kind}"
    engine.execute(
        _DML_KINDS[kind].format(
            t=t,
            q="SELECT id, CAST(id % 3 AS INT) AS p, IF(id % 2 = 0, NULL, id) AS x "
            "FROM range(20) AS r(id)",
        )
    )
    out = engine.execute(f"DELETE FROM {t} WHERE x > 5").to_pylist()[0]
    assert out["rows_deleted"] == 7  # x in 7, 9, ..., 19
    left = engine.execute(f"SELECT id, x FROM {t}").to_pylist()
    assert sorted(r["id"] for r in left) == [i for i in range(20) if i % 2 == 0 or i <= 5]
    assert sum(r["x"] is None for r in left) == 10
    assert (t in engine.snap_tables) == (kind != "qualified")
    engine.execute(f"DROP TABLE {t}")


def test_partitioned_ctas_is_iceberg(engine):
    """An unqualified CREATE TABLE ... PARTITION BY / CLUSTER BY takes the
    Iceberg create: an identity partition spec, or a sort order. Over a
    plain table's name it replaces that table with OR REPLACE only."""
    from universql_spark.engine import QueryError
    from universql_spark.iceberg_format import IcebergTable

    q = "SELECT id, CAST(id % 3 AS INT) AS p FROM range(12) AS r(id)"
    engine.execute("CREATE OR REPLACE TABLE pci_t AS SELECT 1 AS id, 0 AS p")
    with pytest.raises(QueryError, match="already exists"):
        engine.execute(f"CREATE TABLE pci_t PARTITION BY (p) AS {q}")
    engine.execute(f"CREATE OR REPLACE TABLE pci_t PARTITION BY (p) AS {q}")
    snap = engine.snap_tables["pci_t"]
    assert isinstance(snap, IcebergTable)
    assert [(n, tr) for n, _t, _f, tr, _s in snap._part_spec_full()] == [("p", "identity")]
    assert len(snap.current_files()) == 3  # one file per partition tuple
    engine.execute(f"CREATE OR REPLACE TABLE pci_c CLUSTER BY (id) AS {q}")
    meta = engine.snap_tables["pci_c"]._read_metadata()[1]
    assert meta["default-sort-order-id"] == 1
    assert engine.execute("SELECT COUNT(*) AS n FROM pci_c").to_pylist() == [{"n": 12}]
    engine.execute("DROP TABLE pci_t; DROP TABLE pci_c")
    assert not engine.spark.catalog.tableExists("pci_t")  # the plain table went too


@pytest.mark.parametrize(
    "old, new",
    [
        ("TABLE {t} PARTITION BY (p)", "TABLE {t} PARTITION BY (p)"),
        ("ICEBERG TABLE {t}", "ICEBERG TABLE {t}"),
        ("TABLE {t} PARTITION BY (p)", "TABLE {t}"),
        ("TABLE {t}", "TABLE {t} CLUSTER BY (id)"),
    ],
)
def test_ctas_replacing_its_own_source_keeps_rows(engine, old, new):
    """CREATE OR REPLACE TABLE t ... AS SELECT ... FROM t reads the old
    table's rows before they are removed, whatever kind either table is."""
    engine.execute(
        f"CREATE OR REPLACE {old.format(t='srt_t')} AS "
        "SELECT id, CAST(id % 3 AS INT) AS p FROM range(12) AS r(id)"
    )
    engine.execute(f"CREATE OR REPLACE {new.format(t='srt_t')} AS SELECT * FROM srt_t WHERE id < 6")
    rows = engine.execute("SELECT id, p FROM srt_t ORDER BY id").to_pylist()
    assert rows == [{"id": i, "p": i % 3} for i in range(6)]
    engine.execute("DROP TABLE srt_t")


def test_hive_partitioned_table_dml_keeps_partitions(engine):
    """A Spark-DDL PARTITIONED BY table (adoption refuses it) is rewritten
    whole by DML, and the rewrite keeps its partition columns."""
    engine.spark.sql("CREATE TABLE hp_t (id BIGINT, p INT) USING parquet PARTITIONED BY (p)")
    engine.spark.sql("INSERT INTO hp_t SELECT id, CAST(id % 3 AS INT) FROM range(12)")
    assert engine.execute("DELETE FROM hp_t WHERE id < 3").to_pylist()[0]["rows_deleted"] == 3
    assert engine.execute("UPDATE hp_t SET id = id + 100 WHERE p = 1").to_pylist()[0][
        "rows_updated"
    ] == 3
    assert "hp_t" not in engine.snap_tables
    assert [c.name for c in engine.spark.catalog.listColumns("hp_t") if c.isPartition] == ["p"]
    rows = engine.execute("SELECT id, p FROM hp_t ORDER BY id").to_pylist()
    assert rows == sorted(
        ({"id": i + 100 * (i % 3 == 1), "p": i % 3} for i in range(3, 12)), key=lambda r: r["id"]
    )
    engine.execute("DROP TABLE hp_t")


@pytest.mark.parametrize("kind", ["qualified", "spark_ddl"])
def test_relation_dml_keeps_column_types(engine, kind):
    """On a table DML rewrites whole, a wider value is cast to its column's
    type (only an Iceberg table promotes a column)."""
    q = "SELECT CAST(id AS INT) AS i FROM range(3) AS r(id)"
    if kind == "qualified":
        t = "rct.s.rct_t"
        engine.execute(_DML_KINDS[kind].format(t=t, q=q))
    else:  # a catalog table made outside the engine's CREATE
        t = "rct_ddl"
        engine.spark.sql(f"CREATE TABLE {t} USING parquet AS {q}")
    engine.execute(f"UPDATE {t} SET i = i + CAST(10 AS BIGINT) WHERE i = 1")
    engine.execute(
        f"MERGE INTO {t} t USING (SELECT CAST(7 AS BIGINT) AS k) s ON t.i = s.k "
        "WHEN NOT MATCHED THEN INSERT (i) VALUES (s.k)"
    )
    assert dict(engine.spark.table(engine._resolve_name(t)).dtypes)["i"] == "int"
    assert sorted(r["i"] for r in engine.execute(f"SELECT i FROM {t}").to_pylist()) == [0, 2, 7, 11]
    engine.execute(f"DROP TABLE {t}")


@pytest.mark.parametrize("kind", list(_DML_KINDS))
def test_merge_reports_rows_it_changed(engine, kind):
    """A MERGE replies with the rows it inserted, updated and deleted, not
    with the table's size."""
    t = "mrc.s.mrc_t" if kind == "qualified" else f"mrc_{kind}"
    engine.execute(
        _DML_KINDS[kind].format(
            t=t, q="SELECT id, id % 2 AS p, CAST(id AS DOUBLE) AS v FROM range(10) AS r(id)"
        )
    )

    def merge(sql: str) -> tuple:
        out = engine.execute(sql).to_pylist()[0]
        return out["rows_inserted"], out["rows_updated"], out["rows_deleted"]

    assert merge(
        f"MERGE INTO {t} t USING (SELECT CAST(3 AS BIGINT) AS id) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = -1.0 "
        "WHEN NOT MATCHED THEN INSERT (id, p, v) VALUES (s.id, 1, 0e0)"
    ) == (0, 1, 0)
    # 8 matches no clause (kept), 9 is deleted, 10 and 11 are inserted
    assert merge(
        f"MERGE INTO {t} t USING (SELECT id FROM range(8, 12) AS r(id)) s ON t.id = s.id "
        "WHEN MATCHED AND s.id = 9 THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (id, p, v) VALUES (s.id, s.id % 2, 0e0)"
    ) == (2, 0, 1)
    rows = {r["id"]: r["v"] for r in engine.execute(f"SELECT id, v FROM {t}").to_pylist()}
    assert sorted(rows) == [0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 11] and rows[3] == -1.0
    engine.execute(f"DROP TABLE {t}")


def test_merge_source_leaves_no_view_or_blocks(engine):
    """A MERGE's source is materialized once for the statement and
    released after it: no temp view and no cached blocks stay behind."""
    sc = engine.spark.sparkContext
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE msl_t AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(6) AS r(id)"
    )
    views = {t.name for t in engine.spark.catalog.listTables()}
    blocks = sc._jsc.getPersistentRDDs().size()
    for sql in (
        "MERGE INTO msl_t t USING (SELECT id, 2 * id AS w FROM range(4, 8) AS r(id)) s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.w "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.w)",
        "MERGE INTO msl_t t USING msl_t s ON t.id = s.id WHEN MATCHED AND s.id = 0 THEN DELETE",
    ):
        engine.execute(sql)
        assert {t.name for t in engine.spark.catalog.listTables()} == views
        assert not any(t.name.startswith("__merge") for t in engine.spark.catalog.listTables())
        assert sc._jsc.getPersistentRDDs().size() == blocks
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM msl_t").to_pylist()}
    assert rows == {1: 1.0, 2: 2.0, 3: 3.0, 4: 8.0, 5: 10.0, 6: 12.0, 7: 14.0}
    engine.execute("DROP TABLE msl_t")


def test_update_set_subquery_with_where(engine):
    """UPDATE splits SET from the statement's own WHERE, not from a WHERE
    inside a subquery or a literal."""
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE usw_t AS "
        "SELECT id, id * 10 AS v, 'x' AS s FROM range(4) AS r(id)"
    )
    engine.execute("CREATE OR REPLACE TABLE usw_q AS SELECT id FROM range(5) AS r(id)")
    out = engine.execute(
        "UPDATE usw_t SET v = (SELECT MAX(id) FROM usw_q WHERE id < 2), s = 'a WHERE b' WHERE id = 1"
    ).to_pylist()
    assert out[0]["rows_updated"] == 1
    rows = {r["id"]: (r["v"], r["s"]) for r in engine.execute("SELECT * FROM usw_t").to_pylist()}
    assert rows == {0: (0, "x"), 1: (1, "a WHERE b"), 2: (20, "x"), 3: (30, "x")}
    engine.execute("DROP TABLE usw_t; DROP TABLE usw_q")


def test_dml_target_columns_resolve_case_insensitively(engine):
    """UPDATE SET, MERGE UPDATE SET and MERGE INSERT (cols) name target
    columns case-insensitively, cast each value to the column's type, and
    reject an unknown name."""
    from universql_spark.engine import QueryError

    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE rc_t AS "
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(4) AS r(id)"
    )
    assert engine.execute("UPDATE rc_t SET V = 7 WHERE id = 1").to_pylist()[0]["rows_updated"] == 1
    engine.execute(
        "MERGE INTO rc_t t USING (SELECT id, 'x' AS s FROM range(2, 6) AS r(id)) s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET \"V\" = 9 "
        "WHEN NOT MATCHED THEN INSERT (ID, V) VALUES (s.id, s.id * 10)"
    )
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM rc_t").to_pylist()}
    assert rows == {0: 0.0, 1: 7.0, 2: 9.0, 3: 9.0, 4: 40.0, 5: 50.0}
    assert dict(engine.spark.table("rc_t").dtypes)["v"] == "double"
    for bad in (
        "UPDATE rc_t SET nosuch = 1",
        "MERGE INTO rc_t t USING rc_t s ON t.id = s.id WHEN MATCHED THEN UPDATE SET nosuch = 1",
        "MERGE INTO rc_t t USING rc_t s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, nosuch) VALUES (s.id, 1)",
    ):
        with pytest.raises(QueryError, match="nosuch"):
            engine.execute(bad)
    engine.execute("DROP TABLE rc_t")


def test_merge_when_clauses_with_parentheses(engine):
    """WHEN clauses parse around parentheses, CASE ... END and literals; a
    clause list with text no clause consumes is an error, not a no-op."""
    from universql_spark.engine import QueryError

    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE mp_t AS "
        "SELECT id, CAST(id AS DOUBLE) AS v, 'a' AS s FROM range(3) AS r(id)"
    )
    engine.execute(
        "CREATE OR REPLACE TABLE mp_s AS SELECT id, id + 1 AS w FROM range(1, 5) AS r(id)"
    )
    out = engine.execute(
        "MERGE INTO mp_t t USING mp_s s ON t.id = s.id "
        "WHEN MATCHED AND s.w > 2 THEN UPDATE SET v = CASE WHEN s.w > 2 THEN 1 ELSE 2 END, "
        "s = 'when (x) then' "
        "WHEN NOT MATCHED AND s.w IN (4, 5) THEN INSERT (id, v, s) "
        "VALUES (s.id, CAST(s.w AS DOUBLE), CONCAT('n', CAST(s.w AS STRING)))"
    ).to_pylist()[0]
    assert out["rows_inserted"] == 2
    rows = {r["id"]: (r["v"], r["s"]) for r in engine.execute("SELECT * FROM mp_t").to_pylist()}
    assert rows == {
        0: (0.0, "a"), 1: (1.0, "a"), 2: (1.0, "when (x) then"), 3: (4.0, "n4"), 4: (5.0, "n5"),
    }
    # parenthesized ON and AND conditions
    engine.execute(
        "MERGE INTO mp_t t USING mp_s s ON (t.id = s.id) WHEN MATCHED AND (s.w = 5) THEN DELETE"
    )
    for bad in (
        "MERGE INTO mp_t t USING mp_s s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id) AND MORE",
        "MERGE INTO mp_t t USING mp_s s ON t.id = s.id WHEN MATCHED THEN DELETE NOW",
        "MERGE INTO mp_t t USING mp_s s ON t.id = s.id WHEN MATCHED UPDATE SET v = 1",
    ):
        with pytest.raises(QueryError):
            engine.execute(bad)
    assert sorted(r["id"] for r in engine.execute("SELECT id FROM mp_t").to_pylist()) == [0, 1, 2, 3]
    engine.execute("DROP TABLE mp_t; DROP TABLE mp_s")


def test_temp_ctas_holds_data(engine):
    """CREATE TEMP TABLE ... AS SELECT stores the rows it selected: a later
    change to the source does not show through."""
    engine.execute("CREATE OR REPLACE TABLE tcs_src AS SELECT 1 AS v UNION ALL SELECT 2")
    engine.execute("CREATE OR REPLACE TEMP TABLE tcs_t AS SELECT v FROM tcs_src")
    engine.execute("INSERT INTO tcs_src SELECT 3")
    assert engine.execute("SELECT COUNT(*) AS n FROM tcs_t").to_pylist() == [{"n": 2}]
    engine.execute("DROP TABLE tcs_t; DROP TABLE tcs_src")


def test_temp_table_merge_stays_temporary(engine):
    """MERGE into a TEMP table replaces its rows and keeps it a TEMP table."""
    engine.execute("CREATE OR REPLACE TEMP TABLE tm_t AS SELECT 1 AS id, 'a' AS v")
    out = engine.execute(
        "MERGE INTO tm_t t USING (SELECT 1 AS id, 'b' AS v UNION ALL SELECT 2, 'c') s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    ).to_pylist()
    assert out[0]["rows_inserted"] == 1 and out[0]["rows_updated"] == 1 and out[0]["rows_deleted"] == 0
    assert [t.isTemporary for t in engine.spark.catalog.listTables() if t.name == "tm_t"] == [True]
    rows = engine.execute("SELECT id, v FROM tm_t ORDER BY id").to_pylist()
    assert rows == [{"id": 1, "v": "b"}, {"id": 2, "v": "c"}]
    engine.execute("DROP TABLE tm_t")


@pytest.mark.parametrize("name", ["qi1.s.ice_q", "qi2.ice_q"])
@pytest.mark.parametrize(
    "create", ["ICEBERG TABLE {n}", "TABLE {n} PARTITION BY (x)", "TABLE {n} CLUSTER BY (x)"]
)
def test_qualified_iceberg_name_rejected(engine, name, create):
    """Iceberg tables (and so partitioned or clustered ones) are keyed by
    their bare name, so a qualified name would alias another database's
    table: it is an error, never a table created without its layout."""
    from universql_spark.engine import QueryError

    with pytest.raises(QueryError, match="qualified"):
        engine.execute(f"CREATE OR REPLACE {create.format(n=name)} AS SELECT 1 AS x")
    assert "ice_q" not in engine.snap_tables
    assert not engine.spark.catalog.tableExists(engine._resolve_name(name))


def test_qualify_anded_window_predicates(engine):
    out = engine.execute(
        """SELECT user_id, n FROM (
             SELECT CAST(1 AS BIGINT) AS user_id, 5 AS n UNION ALL SELECT 2, 3
             UNION ALL SELECT 3, 8 UNION ALL SELECT 4, 1)
           QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, user_id) <= 3
               AND RANK() OVER (ORDER BY n DESC, user_id) > 1
           ORDER BY user_id"""
    ).to_pylist()
    # top-3 by n are users 3(8),1(5),2(3); rank>1 removes user 3
    assert out == [{"user_id": 1, "n": 5}, {"user_id": 2, "n": 3}]


def test_qualify_window_or_alias_mix(engine):
    out = engine.execute(
        """SELECT user_id, n FROM (
             SELECT CAST(1 AS BIGINT) AS user_id, 5 AS n UNION ALL SELECT 2, 3
             UNION ALL SELECT 3, 8)
           QUALIFY SUM(n) OVER (PARTITION BY user_id % 2) > 10 OR n = 3
           ORDER BY user_id"""
    ).to_pylist()
    # partition {1,3}: sum 13 > 10 -> keep 1 and 3; partition {2}: 3 not >10
    # but n=3 keeps it
    assert out == [{"user_id": 1, "n": 5}, {"user_id": 2, "n": 3}, {"user_id": 3, "n": 8}]


def test_copy_into_avro_pure_python_reader(engine, tmp_path):
    # no spark-avro jar in this container: COPY's avro path decodes object
    # container files with the from-spec reader (avro_io.py), distributed
    # one-task-per-file over binaryFile
    from universql_spark.avro_io import write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "tag", "type": ["null", "string"]},
        ],
    }
    write_avro(
        str(tmp_path / "a.avro"),
        schema,
        [{"id": 1, "name": "a", "score": 1.5, "tag": "x"},
         {"id": 2, "name": "b", "score": -2.0, "tag": None}],
    )
    write_avro(
        str(tmp_path / "b.avro"),
        schema,
        [{"id": 3, "name": "c", "score": 0.25, "tag": "y"}],
    )
    engine.execute(
        "CREATE OR REPLACE TABLE av_t AS SELECT CAST(1 AS BIGINT) AS id, 'x' AS name, "
        "1.0 AS score, 'x' AS tag WHERE 1 = 0"
    )
    out = engine.execute(
        f"COPY INTO av_t FROM '{tmp_path}' FILE_FORMAT = (TYPE = AVRO)"
    )
    assert out.to_pylist()[0]["rows_loaded"] == 3
    rows = sorted(engine.execute("SELECT * FROM av_t").to_pylist(), key=lambda r: r["id"])
    assert rows[0] == {"id": 1, "name": "a", "score": 1.5, "tag": "x"}
    assert rows[1]["tag"] is None and rows[2]["name"] == "c"
    engine.execute("DROP TABLE av_t")


def test_scalar_fn_emulations(engine):
    out = engine.execute(
        "SELECT NULLIFZERO(0) AS a, NULLIFZERO(5) AS b, ZEROIFNULL(NULL) AS c, "
        "SQUARE(4) AS d, TO_BOOLEAN('true') AS e, TRY_TO_NUMBER('12.5') AS f, "
        "TRY_TO_NUMBER('nope') AS g, REGEXP_SUBSTR('ab12cd34', '[0-9]+') AS h"
    ).to_pylist()[0]
    assert out["a"] is None and out["b"] == 5 and out["c"] == 0
    assert out["d"] == 16.0 and out["e"] is True
    assert out["f"] == 12.5 and out["g"] is None and out["h"] == "12"


# -- Iceberg v2 tables (iceberg_format.py: the Iceberg format, no jar) --------


def test_iceberg_dml_spark_jobs_per_statement(engine, spark_jobs):
    """Iceberg DML plans from the table's metadata: no schema-inference,
    listing or count jobs, one targeting job (plus the broadcast jobs of
    its join) and one write, and each small write adds one data file."""
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE ice_jobs AS "
        "SELECT id AS k, id % 7 AS g, CAST(id AS DOUBLE) AS v FROM range(2000)"
    )
    snap = engine.snap_tables["ice_jobs"]
    statements = {
        "insert": "INSERT INTO ice_jobs SELECT id, id % 7, 1.0 FROM range(2000, 2300)",
        "delete": "DELETE FROM ice_jobs WHERE g = 3",
        "update": "UPDATE ice_jobs SET v = v + 1 WHERE k % 13 = 2",
        "merge": "MERGE INTO ice_jobs t USING (SELECT id AS k, id AS g FROM range(1900, 2400)) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET g = s.g + 1 "
        "WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, 0e0)",
    }
    jobs, added = {}, {}
    for kind, sql in statements.items():
        before = set(snap.current_files())
        with spark_jobs() as ids:
            engine.execute(sql)
        jobs[kind] = len(ids)
        added[kind] = len(set(snap.current_files()) - before)
    assert jobs == JOBS_PER_ICEBERG_DML
    assert added == {"insert": 1, "delete": 1, "update": 1, "merge": 1}
    # the MERGE inserts every source key the DELETE left unmatched
    keys = {k for k in range(2300) if k % 7 != 3} | set(range(1900, 2400))
    assert engine.execute("SELECT COUNT(*) AS n FROM ice_jobs").to_pylist() == [{"n": len(keys)}]
    engine.execute("DROP TABLE ice_jobs")


#: jobs each statement runs above (the test session plans with AQE, so a
#: shuffle stage and a broadcast each run as their own job). With schema
#: inference, count jobs and a separate determinism check the same
#: statements ran 3 / 10 / 8 / 23, and with a shuffle in each targeting job
#: and a MERGE source re-read by each of its joins, 1 / 3 / 3 / 8. Inputs
#: this small fit one scan split, so the targeting and the MERGE's outer
#: join read one partition a side and need no exchange; MERGE runs the
#: source's checkpoint, the targeting and the write.
JOBS_PER_ICEBERG_DML = {"insert": 1, "delete": 2, "update": 2, "merge": 3}


@pytest.mark.parametrize(
    "stmt, k_type, changed",
    [
        ("UPDATE bt SET k = id WHERE id < 3", "bigint", {}),
        ("MERGE INTO bt t USING (SELECT id FROM range(6, 10)) s ON t.id = s.id "
         "WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id, s.id)", "bigint", {8: 8, 9: 9}),
        ("MERGE INTO bt t USING (SELECT id FROM range(6, 10)) s ON t.id = s.id "
         "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)", "int", {8: None, 9: None}),
        # cast like INSERT's alignment: Spark's decimal -> int cast truncates
        ("UPDATE bt SET k = 2.5 WHERE id < 3", "int", {0: 2, 1: 2, 2: 2}),
    ],
    ids=["update_promotes", "merge_insert_promotes", "merge_insert_omits", "update_casts"],
)
def test_dml_type_change_keeps_iceberg_table_readable(engine, stmt, k_type, changed):
    """Every file a commit adds matches the current schema: a legal Iceberg
    promotion (int -> long) promotes the column, any other type is cast,
    and a column an INSERT list leaves out is a NULL of its type."""
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE bt AS "
        "SELECT /*+ REPARTITION(4) */ id, CAST(id AS INT) AS k FROM range(8)"
    )
    # multi-file, so a rewrite leaves files of the old type next to its own
    assert len(engine.snap_tables["bt"].current_files()) >= 4
    engine.execute(stmt)
    engine.execute("INSERT INTO bt SELECT 100, 100")
    got = engine.execute("SELECT id, k FROM bt").to_pylist()
    assert {r["id"]: r["k"] for r in got} == {i: i for i in range(8)} | changed | {100: 100}
    assert dict(engine.spark.table("bt").dtypes)["k"] == k_type
    # manifest pruning still decodes the bounds written before a promotion
    assert engine.execute("DELETE FROM bt WHERE k = 7").to_pylist()[0]["rows_deleted"] == 1
    engine.execute("DROP TABLE bt")


def test_iceberg_ctas_select_drop(engine):
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_a AS SELECT 1 AS x UNION ALL SELECT 2")
    assert sorted(r["x"] for r in engine.execute("SELECT x FROM ice_a").to_pylist()) == [1, 2]
    engine.execute("DROP TABLE ice_a")
    import os

    # time-travel drop: files are RETAINED for UNDROP...
    assert os.path.exists(engine._snap_root("ice_a"))
    assert "ice_a" in engine.dropped_tables
    # ...and reclaimed when the name is reused
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_a AS SELECT 9 AS x")
    assert "ice_a" not in engine.dropped_tables
    assert engine.execute("SELECT x FROM ice_a").to_pydict()["x"] == [9]
    engine.execute("DROP TABLE ice_a")


def test_iceberg_file_granular_delete_and_time_travel(engine):
    # many files: repartition the CTAS body so each id range lands in its own
    # file, then delete ONE row — only its file should be rewritten
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE ice_t AS "
        "SELECT /*+ REPARTITION(8, id) */ id, id * 10 AS v FROM range(100)"
    )
    snap = engine.snap_tables["ice_t"]
    files_before = set(snap.current_files())
    assert len(files_before) >= 4  # genuinely multi-file
    out = engine.execute("DELETE FROM ice_t WHERE id = 7")
    rec = out.to_pylist()[0]
    assert rec["rows_deleted"] == 1 and rec["files_rewritten"] == 1
    files_after = set(snap.current_files())
    # all but one original file still live — copy-on-write at file grain
    assert len(files_before & files_after) == len(files_before) - 1
    assert engine.execute("SELECT COUNT(*) AS c FROM ice_t").to_pylist() == [{"c": 99}]
    # time travel: snapshot 1 still sees the deleted row
    old = engine.execute("SELECT COUNT(*) AS c FROM ice_t AT(SNAPSHOT => 1)").to_pylist()
    assert old == [{"c": 100}]
    # AT(OFFSET => 0) = "as of now" = the current snapshot
    now = engine.execute("SELECT COUNT(*) AS c FROM ice_t AT(OFFSET => 0)").to_pylist()
    assert now == [{"c": 99}]
    engine.execute("DROP TABLE ice_t")


def test_time_travel_before_and_changes_clause(engine):
    """Snowflake BEFORE(...) and CHANGES(INFORMATION => ...) clauses:
    BEFORE(SNAPSHOT) = the preceding snapshot, fractional OFFSET seconds,
    BEFORE(STATEMENT => qid) = the state recorded just before that
    history-changing statement ran, and CHANGES = the row-level delta
    between two points (APPEND_ONLY keeps only INSERTs)."""
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_tt AS SELECT 1 AS v")
    engine.execute("INSERT INTO ice_tt SELECT 2")
    engine.execute("INSERT INTO ice_tt SELECT 3")
    # ring: [..., create, ins2, ins3]; -2 once the SELECT's own id exists
    ins3_qid = engine.execute("SELECT LAST_QUERY_ID(-1) AS q").to_pylist()[0]["q"]
    assert engine.execute(
        "SELECT COUNT(*) AS c FROM ice_tt BEFORE(SNAPSHOT => 2)"
    ).to_pylist() == [{"c": 1}]
    assert engine.execute(
        "SELECT COUNT(*) AS c FROM ice_tt AT(OFFSET => -0.0001)"
    ).to_pylist() == [{"c": 3}]
    assert engine.execute(
        f"SELECT COUNT(*) AS c FROM ice_tt BEFORE(STATEMENT => '{ins3_qid}')"
    ).to_pylist() == [{"c": 2}]
    delta = engine.execute(
        'SELECT v, "METADATA$ACTION" AS act FROM ice_tt '
        "CHANGES(INFORMATION => DEFAULT) AT(SNAPSHOT => 1) ORDER BY v"
    ).to_pylist()
    assert delta == [{"v": 2, "act": "INSERT"}, {"v": 3, "act": "INSERT"}]
    bounded = engine.execute(
        "SELECT v FROM ice_tt CHANGES(INFORMATION => APPEND_ONLY) "
        "AT(SNAPSHOT => 1) END(SNAPSHOT => 2) ORDER BY v"
    ).to_pylist()
    assert bounded == [{"v": 2}]
    # CHANGES on a plain view refuses with a clear message
    import pytest as _pytest

    from universql_spark.engine import QueryError as _QE

    with _pytest.raises(_QE, match="snapshot-tracked"):
        engine.execute(
            "SELECT COUNT(*) FROM events CHANGES(INFORMATION => DEFAULT) AT(OFFSET => -60)"
        )
    engine.execute("DROP TABLE ice_tt")


def test_iceberg_update_file_granular(engine):
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE ice_u AS "
        "SELECT /*+ REPARTITION(4, id) */ id, CAST(0 AS BIGINT) AS v FROM range(40)"
    )
    snap = engine.snap_tables["ice_u"]
    before = set(snap.current_files())
    out = engine.execute("UPDATE ice_u SET v = 99 WHERE id = 11")
    assert out.to_pylist()[0]["files_rewritten"] == 1
    assert len(before & set(snap.current_files())) == len(before) - 1
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM ice_u WHERE id IN (10, 11)").to_pylist()}
    assert rows == {10: 0, 11: 99}
    engine.execute("DROP TABLE ice_u")


def test_iceberg_merge_insert_appends_only(engine):
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE ice_m AS "
        "SELECT /*+ REPARTITION(3, id) */ id, CAST(id AS BIGINT) AS v FROM range(20)"
    )
    engine.execute(
        "CREATE OR REPLACE TABLE ice_src AS SELECT CAST(5 AS BIGINT) AS id, CAST(500 AS BIGINT) AS v "
        "UNION ALL SELECT 100, 1000"
    )
    snap = engine.snap_tables["ice_m"]
    before = set(snap.current_files())
    out = engine.execute(
        "MERGE INTO ice_m t USING ice_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    ).to_pylist()[0]
    assert out["rows_inserted"] == 1 and out["files_rewritten"] == 1
    after = set(snap.current_files())
    assert len(before & after) == len(before) - 1  # one file rewritten
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM ice_m").to_pylist()}
    assert rows[5] == 500 and rows[100] == 1000 and rows[4] == 4 and len(rows) == 21
    # history: snapshot 1 = pre-merge
    pre = engine.execute("SELECT COUNT(*) AS c FROM ice_m AT(SNAPSHOT => 1)").to_pylist()
    assert pre == [{"c": 20}]
    engine.execute("DROP TABLE ice_m; DROP TABLE ice_src")


def test_iceberg_insert_copy_truncate(engine, tmp_path):
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_l AS SELECT CAST(1 AS BIGINT) AS id, 'a' AS v")
    engine.execute("INSERT INTO ice_l SELECT CAST(2 AS BIGINT), 'b'")
    engine.execute("INSERT INTO ice_l (id) VALUES (CAST(3 AS BIGINT))")
    rows = {r["id"]: r["v"] for r in engine.execute("SELECT id, v FROM ice_l").to_pylist()}
    assert rows == {1: "a", 2: "b", 3: None}
    # COPY appends a new snapshot without touching existing files
    p = tmp_path / "ice.csv"
    p.write_text("id,v\n9,z\n")
    snap = engine.snap_tables["ice_l"]
    before = set(snap.current_files())
    out = engine.execute(f"COPY INTO ice_l FROM '{p}' FILE_FORMAT = (TYPE = CSV, SKIP_HEADER = 1)")
    assert out.to_pylist()[0]["rows_loaded"] == 1
    assert before <= set(snap.current_files())
    assert engine.execute("SELECT COUNT(*) AS c FROM ice_l").to_pylist() == [{"c": 4}]
    # TRUNCATE = empty snapshot; history intact
    engine.execute("TRUNCATE TABLE ice_l")
    assert engine.execute("SELECT COUNT(*) AS c FROM ice_l").to_pylist() == [{"c": 0}]
    hist = engine.execute("SELECT COUNT(*) AS c FROM ice_l AT(SNAPSHOT => 4)").to_pylist()
    assert hist == [{"c": 4}]
    engine.execute("DROP TABLE ice_l")


def test_iceberg_schema_evolution_add_column(engine):
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_e AS SELECT CAST(1 AS BIGINT) AS id")
    engine.execute("ALTER TABLE ice_e ADD COLUMN score DOUBLE")
    # metadata-only: old file untouched, column reads as NULL
    snap = engine.snap_tables["ice_e"]
    assert len(snap.snapshots()) == 1
    assert engine.execute("SELECT id, score FROM ice_e").to_pylist() == [{"id": 1, "score": None}]
    # new writes carry the column; old files still never rewritten
    engine.execute("INSERT INTO ice_e SELECT CAST(2 AS BIGINT), CAST(0.5 AS DOUBLE)")
    rows = {r["id"]: r["score"] for r in engine.execute("SELECT id, score FROM ice_e").to_pylist()}
    assert rows == {1: None, 2: 0.5}
    engine.execute("UPDATE ice_e SET score = 9.0 WHERE id = 1")
    rows = {r["id"]: r["score"] for r in engine.execute("SELECT id, score FROM ice_e").to_pylist()}
    assert rows == {1: 9.0, 2: 0.5}
    engine.execute("DROP TABLE ice_e")


def test_merge_subquery_source(engine):
    """USING (SELECT ...) inline source — the reference's Snowflake dialect
    allows any table expression as the MERGE source."""
    engine.execute("CREATE OR REPLACE TABLE msq_t AS SELECT CAST(1 AS BIGINT) AS id, 'a' AS v "
                   "UNION ALL SELECT 2, 'b'")
    engine.execute(
        """MERGE INTO msq_t t
           USING (SELECT CAST(2 AS BIGINT) AS id, 'B' AS v
                  UNION ALL SELECT 3, upper('c')) s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
    )
    rows = sorted(engine.execute("SELECT id, v FROM msq_t").to_pylist(), key=lambda r: r["id"])
    assert rows == [{"id": 1, "v": "a"}, {"id": 2, "v": "B"}, {"id": 3, "v": "C"}]
    engine.execute("DROP TABLE msq_t")


def test_merge_subquery_source_iceberg(engine):
    engine.execute("CREATE OR REPLACE ICEBERG TABLE msqi_t AS SELECT CAST(1 AS BIGINT) AS id, 10 AS n")
    engine.execute(
        """MERGE INTO msqi_t t USING (SELECT CAST(1 AS BIGINT) AS id, 99 AS n) s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET n = s.n"""
    )
    assert engine.execute("SELECT n FROM msqi_t").to_pylist() == [{"n": 99}]
    engine.execute("DROP TABLE msqi_t")


def test_flatten_outer_keeps_empty_rows(engine):
    out = engine.execute(
        "SELECT t.id, f.value AS el FROM "
        "(SELECT 1 AS id, ARRAY_CONSTRUCT(10) AS arr "
        " UNION ALL SELECT 2, ARRAY_CONSTRUCT()) t, "
        "LATERAL FLATTEN(input => t.arr, outer => true) f ORDER BY id"
    )
    assert out.to_pylist() == [{"id": 1, "el": 10}, {"id": 2, "el": None}]


def test_flatten_path_navigates_struct(engine):
    out = engine.execute(
        "SELECT f.value AS el FROM "
        "(SELECT named_struct('a', named_struct('b', ARRAY_CONSTRUCT(1, 2))) AS obj) t, "
        "LATERAL FLATTEN(input => t.obj, path => 'a.b') f"
    )
    assert sorted(r["el"] for r in out.to_pylist()) == [1, 2]


def test_flatten_recursive_expands_all_depths(engine):
    """RECURSIVE => TRUE walks nested arrays/objects at every depth via the
    flatten_recursive UDTF (operators/flatten.py); VALUE is compact JSON."""
    out = engine.execute(
        'SELECT f.path AS p, f.idx AS i, f.key AS k, f.value AS v FROM '
        '(SELECT PARSE_JSON(\'{"a": [1, {"b": 2}]}\') AS doc) t, '
        "LATERAL FLATTEN(input => t.doc, recursive => true) f ORDER BY p"
    )
    assert out.to_pylist() == [
        {"p": "a", "i": None, "k": "a", "v": '[1,{"b":2}]'},
        {"p": "a[0]", "i": 0, "k": None, "v": "1"},
        {"p": "a[1]", "i": 1, "k": None, "v": '{"b":2}'},
        {"p": "a[1].b", "i": None, "k": "b", "v": "2"},
    ]


def test_flatten_recursive_outer_keeps_empty_docs(engine):
    out = engine.execute(
        "SELECT t.id, f.path AS p FROM "
        "(SELECT 1 AS id, PARSE_JSON('{\"x\": 5}') AS doc "
        " UNION ALL SELECT 2, PARSE_JSON('{}')) t, "
        "LATERAL FLATTEN(input => t.doc, recursive => true, outer => true) f ORDER BY id"
    )
    assert out.to_pylist() == [{"id": 1, "p": "x"}, {"id": 2, "p": None}]


def test_avro_snappy_and_deflate_codecs(engine, tmp_path):
    """COPY's avro reader handles all three container codecs; the snappy
    block decoder is exercised both on our literal-only encoder's output
    and on a handcrafted block with overlapping back-reference copies."""
    from universql_spark.avro_io import _snappy_compress, _snappy_decompress, write_avro

    # copy-path coverage: 'ab' + copy(off=2, len=8) -> 'ab'*5 (overlapping)
    hand = bytes([10 << 1 >> 1])  # varint 10
    hand += bytes([(2 - 1) << 2]) + b"ab"          # literal 'ab'
    hand += bytes([1 | ((8 - 4) << 2)]) + b"\x02"  # 01-copy len 8 off 2
    assert _snappy_decompress(hand) == b"ab" * 5
    # round-trip through the literal-only encoder
    assert _snappy_decompress(_snappy_compress(b"hello snappy" * 100)) == b"hello snappy" * 100

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "v", "type": "string"}]}
    recs = [{"id": i, "v": f"row{i}"} for i in range(50)]
    for codec in ("null", "deflate", "snappy"):
        write_avro(str(tmp_path / f"{codec}.avro"), schema, recs, codec=codec)
        engine.execute(
            "CREATE OR REPLACE TABLE avc_t AS SELECT CAST(1 AS BIGINT) AS id, 'x' AS v WHERE 1 = 0"
        )
        out = engine.execute(
            f"COPY INTO avc_t FROM '{tmp_path / (codec + '.avro')}' FILE_FORMAT = (TYPE = AVRO)"
        )
        assert out.to_pylist()[0]["rows_loaded"] == 50, codec
        got = sorted(engine.execute("SELECT * FROM avc_t").to_pylist(), key=lambda r: r["id"])
        assert got == recs, codec
    engine.execute("DROP TABLE avc_t")


def test_variant_colon_paths(engine):
    out = engine.execute(
        """SELECT PARSE_JSON('{"a": {"b": [10, 20]}}'):a.b[1]::int AS x,
                  GET_PATH(PARSE_JSON('{"u": {"n": "ann"}}'), 'u.n') AS nm,
                  '{"k": 7}':k::bigint AS lit_lhs"""
    ).to_pylist()[0]
    assert out["x"] == 20 and out["nm"] == "ann" and out["lit_lhs"] == 7


def test_variant_colon_path_on_column(engine):
    engine.execute(
        "CREATE OR REPLACE TABLE vcp_t AS "
        "SELECT 1 AS id, '{\"user\": {\"name\": \"bo\", \"tags\": [\"x\",\"y\"]}}' AS payload"
    )
    out = engine.execute(
        "SELECT payload:user.name::string AS nm, payload:user.tags[0]::string AS t0, "
        "payload:missing AS gone FROM vcp_t"
    ).to_pylist()[0]
    assert out == {"nm": "bo", "t0": "x", "gone": None}
    engine.execute("DROP TABLE vcp_t")


def test_variant_value_semijoins_and_uuid5(engine):
    """ARRAY_CONTAINS/ARRAY_POSITION with the documented value::VARIANT /
    TO_VARIANT signature (the cast is stripped so the native equality
    types); MAP_SIZE over both object conventions; PARSE_XML identity;
    GET_PATH quoted segments ('"$"', '"a b"') in bracket form;
    UUID_STRING(ns, name) = RFC 4122 v5 (pinned against python uuid5)."""
    import uuid as U

    out = engine.execute(
        "SELECT ARRAY_CONTAINS(2::VARIANT, ARRAY_CONSTRUCT(1,2)) AS a, "
        "ARRAY_CONTAINS(TO_VARIANT(5), ARRAY_CONSTRUCT(1,2)) AS b, "
        "ARRAY_POSITION(2::VARIANT, ARRAY_CONSTRUCT(1,2)) AS c, "
        "MAP_SIZE(OBJECT_CONSTRUCT('a',1,'b',2)) AS d, "
        "MAP_SIZE(MAP_CAT(OBJECT_CONSTRUCT('a',1), OBJECT_CONSTRUCT('b',2))) AS e, "
        "GET_PATH(XMLGET(PARSE_XML('<a><b>7</b></a>'), 'b'), '\"$\"') AS f, "
        "GET_PATH(PARSE_JSON('{\"a b\": 1}'), '\"a b\"') AS g, "
        "UUID_STRING('6ba7b810-9dad-11d1-80b4-00c04fd430c8', 'example.com') AS h"
    ).to_pylist()[0]
    assert out == {
        "a": True, "b": False, "c": 1, "d": 2, "e": 2, "f": "7", "g": "1",
        "h": str(U.uuid5(U.NAMESPACE_DNS, "example.com")),
    }


def test_temporal_variant_predicates_and_defaults(engine):
    """r6-endgame probe closures: IS_DATE/IS_TIME on temporal-built
    variants (shape test on the quoted ISO rendering; false on PARSE_JSON
    output, matching Snowflake), 2-arg REGEXP_REPLACE (strip matches),
    GET over struct-built objects."""
    out = engine.execute(
        "SELECT IS_DATE(TO_VARIANT('2024-01-01'::DATE)) AS a, "
        "IS_DATE(PARSE_JSON('\"hello\"')) AS b, "
        "IS_TIME(TO_VARIANT(TO_TIME('12:30:00'))) AS c, "
        "REGEXP_REPLACE('a1b2', '[0-9]') AS d, "
        "GET(OBJECT_CONSTRUCT('a', 1), 'a') AS e"
    ).to_pylist()[0]
    assert out == {"a": True, "b": False, "c": True, "d": "ab", "e": "1"}


def test_niladic_context_functions(engine):
    """ANSI niladic keyword forms + the invoker/user context surface:
    LOCALTIME/LOCALTIMESTAMP (no parens), INVOKER_ROLE (= active role,
    no hierarchy locally), ALL_USER_NAMES (single-user engine)."""
    out = engine.execute(
        "SELECT LOCALTIME IS NOT NULL AS a, LOCALTIMESTAMP IS NOT NULL AS b, "
        "INVOKER_ROLE() = CURRENT_ROLE() AS c, "
        "ARRAY_SIZE(ALL_USER_NAMES()) = 1 AS d, "
        "'LOCALTIME literal survives' AS e"
    ).to_pylist()[0]
    assert out == {"a": True, "b": True, "c": True, "d": True,
                   "e": "LOCALTIME literal survives"}


def test_flatten_variant_inputs(engine):
    """LATERAL FLATTEN over VARIANT (JSON-text) inputs — the canonical
    Snowflake semi-structured idioms: PARSE_JSON literal, colon path,
    bare variant column with PATH (engine retry), OUTER over a missing
    path. Nested objects surface as their compact JSON text (the VARIANT
    convention), and array-typed inputs keep their native element type."""
    out = engine.execute(
        "SELECT f.value FROM TABLE(FLATTEN(INPUT => PARSE_JSON('[1,2]'))) f"
    ).to_pylist()
    assert [r["value"] for r in out] == ["1", "2"]
    engine.execute(
        "CREATE OR REPLACE TEMP TABLE fvt AS "
        "SELECT 1 AS id, PARSE_JSON('{\"items\": [1, 2, {\"a\": 3}]}') AS v"
    )
    out = engine.execute(
        "SELECT f.value FROM fvt, LATERAL FLATTEN(INPUT => v:items) f"
    ).to_pylist()
    assert [r["value"] for r in out] == ["1", "2", '{"a":3}']
    out = engine.execute(  # bare variant column + PATH: the retry path
        "SELECT f.value FROM fvt, LATERAL FLATTEN(INPUT => v, PATH => 'items') f"
    ).to_pylist()
    assert [r["value"] for r in out] == ["1", "2", '{"a":3}']
    out = engine.execute(
        "SELECT id, f.value FROM fvt, "
        "LATERAL FLATTEN(INPUT => v:nope, OUTER => TRUE) f"
    ).to_pylist()
    assert out == [{"id": 1, "value": None}]
    out = engine.execute(  # array input unchanged: native element type
        "SELECT f.value FROM TABLE(FLATTEN(INPUT => ARRAY_CONSTRUCT(1,2))) f"
    ).to_pylist()
    assert [r["value"] for r in out] == [1, 2]
    out = engine.execute(  # Snowflake's INDEX column: 0-based position
        "SELECT f.index, f.value FROM TABLE(FLATTEN(INPUT => ARRAY_CONSTRUCT('a','b'))) f"
    ).to_pylist()
    assert out == [{"index": 0, "value": "a"}, {"index": 1, "value": "b"}]
    out = engine.execute(  # standalone flatten composes with JOINs (TVF form)
        "SELECT f.value FROM TABLE(FLATTEN(INPUT => ARRAY_CONSTRUCT(1,2))) f "
        "JOIN (SELECT 1 AS x) t ON f.value = t.x"
    ).to_pylist()
    assert out == [{"value": 1}]
    out = engine.execute(  # MODE => 'OBJECT': one (key, value) row/member
        "SELECT f.key, f.value FROM TABLE(FLATTEN("
        "INPUT => PARSE_JSON('{\"a\": 1, \"b\": {\"c\": 2}}'), MODE => 'OBJECT')) f"
    ).to_pylist()
    assert out == [{"key": "a", "value": "1"}, {"key": "b", "value": '{"c":2}'}]
    # bare variant column, NO PATH: the coerce-all retry must recognize
    # Spark's posexplode error spelling (the default ARRAY path emits
    # posexplode for the INDEX column; ADVICE r7 high — '"explode(' alone
    # never matched and this canonical idiom raised DATATYPE_MISMATCH
    # instead of retrying)
    engine.execute("CREATE OR REPLACE TEMP TABLE fvt2 AS "
                   "SELECT PARSE_JSON('[10, 20]') AS arr")
    out = engine.execute(
        "SELECT f.index, f.value FROM fvt2, LATERAL FLATTEN(INPUT => arr) f"
    ).to_pylist()
    assert out == [{"index": 0, "value": "10"}, {"index": 1, "value": "20"}]


def test_flatten_seq_this_path_columns(engine):
    """Snowflake FLATTEN's remaining output columns (r7): THIS = the raw
    flattened input (JSON text under the VARIANT convention), PATH = '[i]'
    array paths (PATH-arg prefixed) / the member key in OBJECT mode, SEQ
    non-null and equal across rows of one input. Resolved where referenced
    (LATERAL VIEW can't emit computed columns); f.* stays (index, value)."""
    out = engine.execute(
        "SELECT f.this AS t, f.path AS p, f.value AS v "
        "FROM TABLE(FLATTEN(INPUT => PARSE_JSON('[1,2]'))) f"
    ).to_pylist()
    assert out == [
        {"t": "[1,2]", "p": "[0]", "v": "1"},
        {"t": "[1,2]", "p": "[1]", "v": "2"},
    ]
    out = engine.execute(
        "SELECT DISTINCT f.seq IS NOT NULL AS s "
        "FROM TABLE(FLATTEN(INPUT => PARSE_JSON('[1,2]'))) f"
    ).to_pylist()
    assert out == [{"s": True}]
    engine.execute("CREATE OR REPLACE TEMP TABLE fstp AS "
                   "SELECT PARSE_JSON('{\"items\": [5]}') AS v")
    out = engine.execute(
        "SELECT f.path AS p FROM fstp, LATERAL FLATTEN(INPUT => v, PATH => 'items') f"
    ).to_pylist()
    assert out == [{"p": "items[0]"}]
    out = engine.execute(
        "SELECT f.path AS p, f.value AS v FROM TABLE(FLATTEN("
        "INPUT => PARSE_JSON('{\"a\": 1}'), MODE => 'OBJECT')) f"
    ).to_pylist()
    assert out == [{"p": "a", "v": "1"}]


def test_flatten_shared_alias_across_blocks(engine):
    """ADVICE r8 (medium): two FLATTENs in different query blocks sharing
    an alias (both `f`) must resolve SEQ/THIS/PATH against their OWN raw
    input. The old post-pass re.sub'd the whole statement per flatten, so
    the first flatten's input leaked into the second UNION branch."""
    engine.execute("CREATE OR REPLACE TEMP TABLE fshared AS "
                   "SELECT PARSE_JSON('[1]') AS xs, PARSE_JSON('[9]') AS ys")
    out = engine.execute(
        "SELECT f.this AS t, f.value AS v FROM fshared, LATERAL FLATTEN(INPUT => xs) f "
        "UNION ALL "
        "SELECT f.this AS t, f.value AS v FROM fshared, LATERAL FLATTEN(INPUT => ys) f "
        "ORDER BY v"
    ).to_pylist()
    assert out == [{"t": "[1]", "v": "1"}, {"t": "[9]", "v": "9"}]
    # same-block references both before (SELECT list) and after (WHERE)
    # the LATERAL still resolve when another same-alias flatten follows
    out = engine.execute(
        "SELECT f.path AS p FROM fshared, LATERAL FLATTEN(INPUT => xs) f "
        "WHERE f.this IS NOT NULL "
        "UNION ALL "
        "SELECT f.path AS p FROM fshared, LATERAL FLATTEN(INPUT => ys) f "
        "ORDER BY p"
    ).to_pylist()
    assert out == [{"p": "[0]"}, {"p": "[0]"}]


def test_advice_r7_dialect_edges(engine):
    """ADVICE r7 low findings pinned:

    - LOCALTIME/LOCALTIMESTAMP used as identifiers (alias position,
      quoted, dotted member) survive the niladic keyword rewrite;
    - GET_PATH with an unterminated quoted segment degrades to a normal
      engine error (or passthrough), never a raw ValueError out of the
      rewrite pipeline;
    - IS_DATE on a date-SHAPED variant string is a KNOWN divergence: the
      predicate is a shape test on the JSON rendering, so
      PARSE_JSON('"2024-01-02"') classifies TRUE here where Snowflake
      returns FALSE for string-typed variants (documented in COVERAGE.md).
    """
    out = engine.execute(
        'SELECT 1 AS LOCALTIME, 2 AS "LOCALTIMESTAMP"'
    ).to_pylist()[0]
    assert out == {"LOCALTIME": 1, "LOCALTIMESTAMP": 2}
    out = engine.execute(
        "WITH t AS (SELECT 7 AS localtime) SELECT t.localtime AS v FROM t"
    ).to_pylist()[0]
    assert out == {"v": 7}
    try:
        engine.execute("SELECT GET_PATH(PARSE_JSON('{}'), 'a.\"x') AS g")
    except ValueError as e:  # must not be the rewrite's raw index() error
        raise AssertionError(f"raw ValueError escaped the rewrite: {e}") from e
    except Exception:
        pass  # a normal engine/parse error is acceptable degradation
    out = engine.execute(
        "SELECT IS_DATE(PARSE_JSON('\"2024-01-02\"')) AS known_fp"
    ).to_pylist()[0]
    assert out == {"known_fp": True}  # divergence pinned, not silent


def test_const_literals_and_probe_closures_r7(engine):
    """r7 probe closures: Snowflake array/object CONSTANT syntax
    ([1,2,3] / {'a': 1}) in expression position — subscripts, casts,
    colon paths, and IN-lists untouched — plus MAP_KEYS over both object
    conventions and SOUNDEX_P123 (duplicate-first-code splice)."""
    out = engine.execute(
        # elements homogeneous per array: Spark arrays are typed where
        # Snowflake's are variant — same standing limit as ARRAY_CONSTRUCT
        "SELECT [[1,2],[3]] AS a, {'k': [1,2], 'n': {'m': 5}} AS b, "
        "CASE WHEN 1=1 THEN [9] ELSE [0] END AS c, "
        "GET([4,5,6], 1) AS d, ARRAY_SIZE([7,8]) AS e"
    ).to_pylist()[0]
    assert out["a"] == [[1, 2], [3]]
    assert out["b"] == {"k": [1, 2], "n": {"m": 5}}
    assert out["c"] == [9] and out["d"] == 5 and out["e"] == 2
    out = engine.execute(  # subscript after an array-valued column survives
        "SELECT x[0] AS f FROM (SELECT [5,6] AS x)"
    ).to_pylist()[0]
    assert out == {"f": 5}
    out = engine.execute(
        "SELECT MAP_KEYS(OBJECT_CONSTRUCT('a',1,'b',2)) AS s, "
        "MAP_KEYS(PARSE_JSON('{\"k\": 9}')) AS j, "
        "SOUNDEX_P123('Pfister') AS p, SOUNDEX_P123('Robert') AS r"
    ).to_pylist()[0]
    assert out == {"s": ["a", "b"], "j": ["k"], "p": "P123", "r": "R163"}
    out = engine.execute(  # array MUTATION family strips VARIANT elements
        "SELECT ARRAY_REMOVE([1,2,1], 1::VARIANT) AS rm, "
        "ARRAY_INSERT([1,2], 1, 9::VARIANT) AS ins, "
        "ARRAY_APPEND([1,2], TO_VARIANT(3)) AS app, "
        "ARRAY_PREPEND([1,2], 0::VARIANT) AS pre"
    ).to_pylist()[0]
    assert out == {"rm": [2], "ins": [1, 9, 2], "app": [1, 2, 3], "pre": [0, 1, 2]}


def test_iceberg_metadata_tables(engine):
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ice_md AS SELECT CAST(1 AS BIGINT) AS id "
                   "UNION ALL SELECT 2")
    engine.execute("INSERT INTO ice_md SELECT CAST(3 AS BIGINT)")
    engine.execute("DELETE FROM ice_md WHERE id = 1")
    snaps = engine.execute(
        "SELECT snapshot_id, operation FROM ice_md$snapshots ORDER BY snapshot_id"
    ).to_pylist()
    assert [(s["snapshot_id"], s["operation"]) for s in snaps] == [
        (1, "append"), (2, "append"), (3, "delete")]
    files = engine.execute(
        "SELECT CAST(SUM(record_count) AS BIGINT) AS n, COUNT(*) AS nf FROM ice_md$files"
    ).to_pylist()[0]
    assert files["n"] == 2
    hist = engine.execute("SELECT COUNT(*) AS c FROM ice_md$history").to_pylist()[0]["c"]
    assert hist == 3
    mf = engine.execute(
        "SELECT partition_spec_id, added_data_files_count FROM ice_md$manifests"
    ).to_pylist()
    assert len(mf) == 1 and mf[0]["partition_spec_id"] == 0
    engine.execute("DROP TABLE ice_md")


def test_dynamic_table_create_and_manual_refresh(engine):
    """CREATE DYNAMIC TABLE materializes its defining query; ALTER ...
    REFRESH re-materializes as a `replace` snapshot (history kept)."""
    engine.execute(
        "CREATE OR REPLACE TABLE dyn_base AS SELECT 1 AS id UNION ALL SELECT 2;"
        "CREATE OR REPLACE DYNAMIC TABLE dyn_t TARGET_LAG = '1 hour' WAREHOUSE = compute_xs "
        "AS SELECT COUNT(*) AS n FROM dyn_base"
    )
    assert engine.execute("SELECT n FROM dyn_t").to_pylist() == [{"n": 2}]
    # base grows; within the 1-hour lag the materialization may stay stale
    engine.execute("INSERT INTO dyn_base SELECT 3")
    assert engine.execute("SELECT n FROM dyn_t").to_pylist() == [{"n": 2}]
    engine.execute("ALTER DYNAMIC TABLE dyn_t REFRESH")
    assert engine.execute("SELECT n FROM dyn_t").to_pylist() == [{"n": 3}]
    snaps = engine.execute("SELECT operation FROM dyn_t$snapshots ORDER BY snapshot_id")
    assert [r["operation"] for r in snaps.to_pylist()] == ["append", "replace"]
    # time travel reads the pre-refresh materialization
    assert engine.execute(
        "SELECT n FROM dyn_t AT(SNAPSHOT => 1)"
    ).to_pylist() == [{"n": 2}]


def test_dynamic_table_auto_refresh_past_lag(engine):
    """A read of a dynamic table older than TARGET_LAG triggers the refresh
    before the read — the lag contract without a scheduler."""
    engine.execute(
        "CREATE OR REPLACE TABLE dyn_base2 AS SELECT 10 AS v;"
        "CREATE OR REPLACE DYNAMIC TABLE dyn_auto TARGET_LAG = '0 seconds' "
        "AS SELECT CAST(SUM(v) AS BIGINT) AS total FROM dyn_base2"
    )
    engine.execute("INSERT INTO dyn_base2 SELECT 5")
    import time as _t
    _t.sleep(0.01)  # ensure now - last_refresh > 0s
    assert engine.execute("SELECT total FROM dyn_auto").to_pylist() == [{"total": 15}]


def test_dynamic_table_name_in_string_literal_no_refresh(engine):
    """A dynamic table's name inside a string literal or comment must not
    trigger a refresh; the staleness probe matches literal-stripped SQL."""
    engine.execute(
        "CREATE OR REPLACE TABLE dyn_base3 AS SELECT 1 AS v;"
        "CREATE OR REPLACE DYNAMIC TABLE dyn_lit TARGET_LAG = '0 seconds' "
        "AS SELECT CAST(SUM(v) AS BIGINT) AS total FROM dyn_base3"
    )
    engine.execute("INSERT INTO dyn_base3 SELECT 9")
    import time as _t
    _t.sleep(0.01)
    # mentions the name only in a literal and a comment -> stays stale
    out = engine.execute("SELECT 'dyn_lit' AS s -- dyn_lit\n")
    assert out.to_pylist() == [{"s": "dyn_lit"}]
    assert len(engine.snap_tables["dyn_lit"].snapshots()) == 1  # no refresh
    # a real reference does refresh
    assert engine.execute("SELECT total FROM dyn_lit").to_pylist() == [{"total": 10}]


def test_flatten_cross_join_separator(engine):
    """CROSS JOIN LATERAL FLATTEN must rewrite to valid Spark for both the
    explode path and the recursive-UDTF path (the separator is swallowed and
    re-emitted canonically; ADVICE r2)."""
    out = engine.execute(
        "SELECT f.value AS el FROM (SELECT ARRAY_CONSTRUCT(1, 2) AS a) t "
        "CROSS JOIN LATERAL FLATTEN(input => t.a) f ORDER BY el"
    )
    assert [r["el"] for r in out.to_pylist()] == [1, 2]
    out = engine.execute(
        "SELECT f.path AS p FROM (SELECT PARSE_JSON('{\"x\": 1}') AS doc) t "
        "CROSS JOIN LATERAL FLATTEN(input => t.doc, recursive => true) f"
    )
    assert [r["p"] for r in out.to_pylist()] == ["x"]


def test_put_list_remove_stage(engine, tmp_path):
    """SnowSQL's PUT/LIST/REMOVE stage file ops: PUT gzips by default
    (AUTO_COMPRESS=TRUE like Snowflake), COPY reads the .gz transparently,
    LIST/REMOVE address files by @stage path prefix."""
    src = tmp_path / "up.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    engine.execute(f"CREATE OR REPLACE STAGE putstage URL='{tmp_path}/stg'")
    out = engine.execute(f"PUT 'file://{src}' @putstage/sub").to_pylist()[0]
    assert out["status"] == "UPLOADED" and out["target"] == "up.csv.gz"
    assert out["target_compression"] == "GZIP"
    listed = engine.execute("LIST @putstage").to_pylist()
    assert [r["name"] for r in listed] == ["@putstage/sub/up.csv.gz"]
    # the gzipped upload round-trips through COPY INTO
    engine.execute(
        "CREATE OR REPLACE TABLE put_t (a INT, b VARCHAR);"
        "COPY INTO put_t FROM @putstage/sub/up.csv.gz FILE_FORMAT = (SKIP_HEADER = 1)"
    )
    assert sorted(
        (r["a"], r["b"]) for r in engine.execute("SELECT a, b FROM put_t").to_pylist()
    ) == [(1, "x"), (2, "y")]
    removed = engine.execute("REMOVE @putstage/sub").to_pylist()
    assert len(removed) == 1
    assert engine.execute("LIST @putstage").to_pylist() == []
    engine.execute("DROP TABLE put_t")


def test_txn_and_alter_session(engine):
    for s in ("BEGIN", "COMMIT", "ROLLBACK", "BEGIN TRANSACTION"):
        assert "status" in engine.execute(s).column_names
    engine.execute("ALTER SESSION SET QUERY_TAG = 'etl_run_42'")
    assert engine.session.params["QUERY_TAG"] == "etl_run_42"
    engine.execute("ALTER SESSION SET TIMEZONE = 'UTC'")
    assert engine.spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_sessions_keep_their_own_id_and_history(engine):
    """execute(session=) runs a statement in that session: each one answers
    its own CURRENT_SESSION() (never another's from the result cache) and
    QUERY_HISTORY_BY_SESSION()."""
    home, other = engine.session, engine.new_session()
    try:
        sql = "SELECT CURRENT_SESSION() AS s"
        assert engine.execute(sql).column("s").to_pylist() == [home.id]
        assert engine.execute(sql, session=other).column("s").to_pylist() == [other.id]
        mine = [r["query_id"] for r in engine.query_log if r["session_id"] == other.id]
        hist = engine.execute("SELECT QUERY_ID FROM TABLE(INFORMATION_SCHEMA.QUERY_HISTORY_BY_SESSION())")
        assert hist.column("QUERY_ID").to_pylist() == mine
    finally:
        engine.session = home


def test_result_scan_last_query_id(engine):
    engine.execute("SELECT 41 + 1 AS answer")
    out = engine.execute("SELECT answer FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))")
    assert out.to_pylist() == [{"answer": 42}]
    qid = engine.query_log[-2]["query_id"]
    out = engine.execute(f"SELECT answer * 2 AS d FROM TABLE(RESULT_SCAN('{qid}'))")
    assert out.to_pylist() == [{"d": 84}]


def test_duckdb_routing_fallback(spark, sf_dir):
    """fallback='duckdb': a SELECT Spark cannot plan is retried verbatim on
    the in-process DuckDB over the same tables (the reference's
    route-to-the-other-warehouse behavior, protocol/session.py:195-201);
    with fallback off the same statement errors loudly."""
    strict = Engine(spark=spark, sf_dir=sf_dir)
    # DuckDB-only syntax: COLUMNS() regex projection
    q = "SELECT COLUMNS('n_n.*') FROM nation ORDER BY n_nationkey LIMIT 2"
    with pytest.raises(QueryError):
        strict.execute(q)
    routed = Engine(spark=spark, sf_dir=sf_dir, fallback="duckdb")
    out = routed.execute(q)
    assert len(out) == 2 and "n_nationkey" in out.column_names
    # snapshot tables are visible to the fallback executor too
    routed.execute("CREATE OR REPLACE ICEBERG TABLE fb_t AS SELECT 1 AS x UNION ALL SELECT 2")
    out = routed.execute("SELECT COLUMNS('x') FROM fb_t ORDER BY x")
    assert [r["x"] for r in out.to_pylist()] == [1, 2]
    # a plannable SELECT still runs on Spark (fallback only on failure)
    assert routed.execute("SELECT COUNT(*) AS c FROM nation").to_pylist()[0]["c"] == 25
    routed.execute("DROP TABLE fb_t")


def test_connect_by_level(engine):
    """CONNECT BY / START WITH / PRIOR / LEVEL -> recursive CTE rewrite."""
    engine.execute(
        "CREATE OR REPLACE TEMP VIEW cbt AS "
        # FLOOR, not a bare ::BIGINT — integer-target casts ROUND half away
        # from zero in Snowflake (r8), which would reshape the tree
        "SELECT id, CASE WHEN id = 0 THEN NULL ELSE CAST(FLOOR((id - 1) / 3) AS BIGINT) END AS pid "
        "FROM range(13) AS r(id)"
    )
    out = engine.execute(
        "SELECT id, LEVEL FROM cbt START WITH pid IS NULL "
        "CONNECT BY pid = PRIOR id ORDER BY LEVEL, id"
    ).to_pylist()
    assert len(out) == 13
    assert out[0] == {"id": 0, "LEVEL": 1}
    assert {r["LEVEL"] for r in out} == {1, 2, 3}


def test_get_downloads_staged_files(engine, tmp_path):
    src = tmp_path / "g.csv"
    src.write_text("x\n1\n")
    engine.execute(f"CREATE OR REPLACE STAGE getstage URL='{tmp_path}/gstg'")
    engine.execute(f"PUT 'file://{src}' @getstage AUTO_COMPRESS=FALSE")
    dl = tmp_path / "down"
    out = engine.execute(f"GET @getstage 'file://{dl}'").to_pylist()
    assert out == [{"file": "g.csv", "size": 4, "status": "DOWNLOADED"}]
    assert (dl / "g.csv").read_text() == "x\n1\n"


def test_object_agg_sorted_keys(engine):
    """OBJECT_AGG emits one JSON object per group with SORTED keys
    (deterministic under any partitioning; Snowflake leaves order
    undefined)."""
    out = engine.execute(
        "SELECT OBJECT_AGG(k, v) AS o FROM "
        "(SELECT 'b' AS k, 2 AS v UNION ALL SELECT 'a', 1 UNION ALL SELECT 'c', 3)"
    )
    assert out.to_pylist() == [{"o": '{"a":1,"b":2,"c":3}'}]


def test_null_strict_greatest_least(engine):
    """Snowflake GREATEST/LEAST return NULL on any NULL argument (Spark's
    skip NULLs); *_IGNORE_NULLS expose the Spark behavior."""
    out = engine.execute(
        "SELECT GREATEST(1, NULL, 3) AS g, LEAST(NULL, 2) AS l, "
        "GREATEST_IGNORE_NULLS(1, NULL, 3) AS gi, LEAST_IGNORE_NULLS(NULL, 2) AS li"
    ).to_pylist()[0]
    assert out == {"g": None, "l": None, "gi": 3, "li": 2}


def test_split_literal_delimiter(engine):
    """Snowflake SPLIT takes a LITERAL delimiter; '.' must not be a regex."""
    out = engine.execute("SELECT SPLIT('a.b.c', '.') AS s, SPLIT('a||b', '|') AS s2").to_pylist()[0]
    assert out["s"] == ["a", "b", "c"]
    assert out["s2"] == ["a", "", "b"]


def test_regexp_like_full_match(engine):
    """Snowflake REGEXP_LIKE is a FULL match; 'i' param maps to (?i)."""
    out = engine.execute(
        "SELECT REGEXP_LIKE('abc', 'b') AS part, REGEXP_LIKE('abc', 'a.c') AS full, "
        "REGEXP_LIKE('ABC', 'abc', 'i') AS ci, RLIKE('abc', 'ab') AS rl"
    ).to_pylist()[0]
    assert out == {"part": False, "full": True, "ci": True, "rl": False}


def test_insert_overlay_and_regexp_all(engine):
    out = engine.execute(
        "SELECT INSERT('abcdef', 2, 3, 'ZZ') AS ins, "
        "REGEXP_SUBSTR_ALL('abcab', 'ab') AS am, REGEXP_COUNT('abcab', 'ab') AS cnt"
    ).to_pylist()[0]
    assert out == {"ins": "aZZef", "am": ["ab", "ab"], "cnt": 2}
    # statement-form INSERT INTO is untouched by the function rewrite
    from universql_spark.dialect import snowflake_to_spark
    assert "overlay" not in snowflake_to_spark("INSERT INTO t (a, b) VALUES (1, 2)").lower()


def test_time_slice_and_to_char(engine):
    out = engine.execute(
        "SELECT TIME_SLICE(TIMESTAMP'2024-03-05 10:47:31', 15, 'MINUTE') AS m15, "
        "TIME_SLICE(TIMESTAMP'2024-03-05 10:47:31', 15, 'MINUTE', 'END') AS m15e, "
        "TO_CHAR(TIME_SLICE(TIMESTAMP'2024-03-05 10:47:31', 2, 'MONTH'), 'YYYY-MM-DD') AS m2, "
        "TO_CHAR(TIMESTAMP'2024-03-05 14:47:31', 'YYYY-MM-DD HH24:MI') AS tc, "
        "PREVIOUS_DAY(DATE'2024-03-06', 'WED') AS pd"
    ).to_pylist()[0]
    assert str(out["m15"]).startswith("2024-03-05 10:45")
    assert str(out["m15e"]).startswith("2024-03-05 11:00")
    assert out["m2"] == "2024-03-01"
    assert out["tc"] == "2024-03-05 14:47"
    assert str(out["pd"]) == "2024-02-28"  # input IS a Wednesday: strictly before


def test_sample_corrected_skew_kurtosis(engine):
    """SKEW/KURTOSIS must equal DuckDB's sample-corrected G1/G2."""
    import duckdb

    vals = "(VALUES (1.0),(2.0),(2.5),(4.0),(7.5),(9.0)) t(x)"
    got = engine.execute(f"SELECT SKEW(x) AS sk, KURTOSIS(x) AS ku FROM {vals}").to_pylist()[0]
    want = duckdb.connect().execute(f"SELECT skewness(x), kurtosis(x) FROM {vals}").fetchone()
    assert abs(got["sk"] - want[0]) < 1e-9
    assert abs(got["ku"] - want[1]) < 1e-9


def test_conditional_true_event_rows_frame(engine):
    out = engine.execute(
        "SELECT x, CONDITIONAL_TRUE_EVENT(x > 1) OVER (ORDER BY x) AS ev "
        "FROM (VALUES (1),(2),(3)) t(x) ORDER BY x"
    ).to_pylist()
    assert [r["ev"] for r in out] == [0, 1, 2]


def test_star_modifiers(engine):
    """SELECT * EXCLUDE/RENAME/REPLACE -> Spark * EXCEPT + trailing aliases."""
    out = engine.execute(
        "SELECT * EXCLUDE (o_orderpriority) RENAME (o_orderstatus AS status) "
        "FROM orders ORDER BY o_orderkey LIMIT 1"
    )
    cols = set(out.column_names)
    assert "status" in cols and "o_orderstatus" not in cols and "o_orderpriority" not in cols
    out = engine.execute(
        "SELECT * REPLACE (o_custkey % 10 AS o_custkey) FROM orders ORDER BY o_orderkey LIMIT 5"
    ).to_pylist()
    assert all(r["o_custkey"] < 10 for r in out)
    # a '*' multiply followed by the REPLACE *function* is untouched
    out = engine.execute(
        "SELECT o_custkey * LENGTH(REPLACE(o_orderstatus, 'O', '')) AS x "
        "FROM orders ORDER BY o_orderkey LIMIT 1"
    )
    assert out.column_names == ["x"]


def test_dynamic_pivot_table_operand(engine):
    """FOR x IN (ANY) against a plain table operand (not a subquery)."""
    engine.execute(
        "CREATE OR REPLACE TEMP VIEW pv AS "
        "SELECT o_orderstatus AS st, o_totalprice AS tp FROM orders"
    )
    out = engine.execute(
        "SELECT * FROM pv PIVOT (COUNT(tp) FOR st IN (ANY)) "
    )
    cols = out.column_names
    assert len(cols) >= 2  # one column per distinct status
    assert len(out) == 1


def test_match_recognize_v_shape(engine, spark):
    """The classic stock V-shape: STRT DOWN+ UP+, Snowflake doc example
    semantics — leftmost-greedy, skip past last row, undefined STRT
    matches any row."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([10, 8, 6, 7, 9, 12, 5, 4, 7, 8])]
        + [(2, i, v) for i, v in enumerate([3, 3, 3, 2, 4])],
        ["sym", "t", "price"],
    ).createOrReplaceTempView("ticks")
    out = engine.execute(
        """SELECT * FROM ticks MATCH_RECOGNIZE (
  PARTITION BY sym ORDER BY t
  MEASURES FIRST(t) AS start_t, LAST(t) AS end_t, MIN(price) AS bottom,
           COUNT(*) AS n_rows, MATCH_NUMBER() AS mn
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE DOWN AS price < PREV(price), UP AS price > PREV(price)
) ORDER BY sym, mn"""
    ).to_pylist()
    assert out == [
        {"sym": 1, "start_t": 0, "end_t": 5, "bottom": 6, "n_rows": 6, "mn": 1},
        {"sym": 1, "start_t": 6, "end_t": 9, "bottom": 4, "n_rows": 4, "mn": 2},
        {"sym": 2, "start_t": 2, "end_t": 4, "bottom": 2, "n_rows": 3, "mn": 1},
    ]


def test_match_recognize_alternation_and_bounds(engine, spark):
    """Alternation and bounded quantifiers compile to the regex engine."""
    spark.createDataFrame(
        [(1, i, s) for i, s in enumerate("aabbaab")],
        ["g", "t", "v"],
    ).createOrReplaceTempView("seq")
    out = engine.execute(
        """SELECT * FROM seq MATCH_RECOGNIZE (
  PARTITION BY g ORDER BY t
  MEASURES FIRST(t) AS s, COUNT(*) AS n
  PATTERN (A{2} B+)
  DEFINE A AS v = 'a', B AS v = 'b'
) ORDER BY s"""
    ).to_pylist()
    # "aabbaab": A{2}B+ matches t0..3 (aabb), then t4..6 (aab)
    assert out == [{"g": 1, "s": 0, "n": 4}, {"g": 1, "s": 4, "n": 3}]


def test_match_recognize_errors(engine, spark):
    from universql_spark.engine import QueryError

    spark.range(3).selectExpr("1 AS g", "id AS t", "id AS v").createOrReplaceTempView("mr_err")
    import pytest as _pytest

    with _pytest.raises(QueryError, match="unsupported MEASURES"):
        engine.execute(
            "SELECT * FROM mr_err MATCH_RECOGNIZE (PARTITION BY g ORDER BY t "
            "MEASURES AVG(A.v) AS n PATTERN (X+) DEFINE X AS v > 0)"
        )


def test_session_variables(engine):
    """SET x = expr (eager evaluation), $x substitution outside literals,
    SHOW VARIABLES, UNSET."""
    engine.execute("SET min_k = 5 + 5")
    engine.execute("SET tag = 'it''s'")
    out = engine.execute(
        "SELECT COUNT(*) AS c FROM orders WHERE o_orderkey <= $min_k"
    ).to_pylist()
    assert out[0]["c"] > 0
    out = engine.execute("SELECT $tag AS t, '$tag stays' AS lit").to_pylist()[0]
    assert out == {"t": "it's", "lit": "$tag stays"}
    rows = engine.execute("SHOW VARIABLES").to_pylist()
    assert {r["name"] for r in rows} >= {"MIN_K", "TAG"}
    engine.execute("UNSET tag")
    rows = engine.execute("SHOW VARIABLES").to_pylist()
    assert "TAG" not in {r["name"] for r in rows}
    # multi-statement script shares the variable state
    out = engine.execute("SET a = 2; SELECT $a + $min_k AS s").to_pylist()
    assert out == [{"s": 12}]


def test_explain_select(engine):
    out = engine.execute("EXPLAIN SELECT COUNT(*) AS c FROM orders").to_pylist()
    assert len(out) > 3
    assert any("HashAggregate" in r["plan"] for r in out)


def test_parse_url_and_generators(engine):
    out = engine.execute(
        "SELECT PARSE_URL('https://sub.example.com/a/b?q=1#frag'):host::STRING AS h, "
        "PARSE_URL('http://x.io/p'):scheme::STRING AS s, "
        "TO_ARRAY(5) AS a, TO_ARRAY(NULL) AS n, "
        "ARRAY_GENERATE_RANGE(0, 10, 3) AS r, ARRAY_GENERATE_RANGE(5, 0, -2) AS rneg"
    ).to_pylist()[0]
    assert out == {
        "h": "sub.example.com", "s": "http", "a": [5], "n": None,
        "r": [0, 3, 6, 9], "rneg": [5, 3, 1],
    }


def test_match_recognize_all_rows_running(engine, spark):
    """ALL ROWS PER MATCH emits every matched row with RUNNING measures."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([10, 8, 6, 7, 9])],
        ["sym", "t", "price"],
    ).createOrReplaceTempView("mr_all_t")
    out = engine.execute(
        """SELECT t, mn, running_n, running_last FROM mr_all_t MATCH_RECOGNIZE (
  PARTITION BY sym ORDER BY t
  MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS running_n, LAST(price) AS running_last
  ALL ROWS PER MATCH
  PATTERN (DOWN+ UP+)
  DEFINE DOWN AS price < PREV(price), UP AS price > PREV(price)
) ORDER BY t"""
    ).to_pylist()
    assert out == [
        {"t": 1, "mn": 1, "running_n": 1, "running_last": 8},
        {"t": 2, "mn": 1, "running_n": 2, "running_last": 6},
        {"t": 3, "mn": 1, "running_n": 3, "running_last": 7},
        {"t": 4, "mn": 1, "running_n": 4, "running_last": 9},
    ]


def test_match_recognize_skip_to_next_row(engine, spark):
    """SKIP TO NEXT ROW finds overlapping matches."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([5, 4, 6, 3, 7])],
        ["sym", "t", "price"],
    ).createOrReplaceTempView("mr_skip_t")
    out = engine.execute(
        """SELECT mn, s, e FROM mr_skip_t MATCH_RECOGNIZE (
  PARTITION BY sym ORDER BY t
  MEASURES MATCH_NUMBER() AS mn, FIRST(t) AS s, LAST(t) AS e
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (DOWN UP)
  DEFINE DOWN AS price < PREV(price), UP AS price > PREV(price)
) ORDER BY mn"""
    ).to_pylist()
    # 5,4,6,3,7: (t1 down, t2 up) and (t3 down, t4 up) — with PAST LAST ROW
    # it'd be the same here, but SKIP TO NEXT ROW re-scans from t2 and still
    # finds the t3/t4 match
    assert out == [{"mn": 1, "s": 1, "e": 2}, {"mn": 2, "s": 3, "e": 4}]


def test_hash_binary_and_md5_halves_r7(engine):
    """r7 sweep-6 closures: binary-returning hash variants (unhex of the
    hex twins) and the MD5 unsigned 64-bit halves (DECIMAL(20,0) via conv)
    — pinned against hashlib."""
    import hashlib

    out = engine.execute(
        "SELECT SHA2_BINARY('x', 256) AS a, SHA1_BINARY('x') AS b, "
        "MD5_BINARY('x') AS c, MD5_NUMBER_LOWER64('x') AS lo, "
        "MD5_NUMBER_UPPER64('x') AS hi"
    ).to_pylist()[0]
    md5x = hashlib.md5(b"x").hexdigest()
    assert bytes(out["a"]) == hashlib.sha256(b"x").digest()
    assert bytes(out["b"]) == hashlib.sha1(b"x").digest()
    assert bytes(out["c"]) == hashlib.md5(b"x").digest()
    assert int(out["lo"]) == int(md5x[16:], 16)
    assert int(out["hi"]) == int(md5x[:16], 16)


def test_datetime_probe_closures_r7(engine):
    """r7 sweep-5 closures: TO_TIMESTAMP epoch forms — all-digit string
    literal via Snowflake's magnitude heuristic (VALUE-based per the docs,
    fixed r8 per ADVICE: seconds below 31536000000, then ms/us/ns at each
    further 10^3 — NOT digit counts) and the (value, scale) 2-arg form —
    DATE_PART dayofyear/yearday aliases, and comma-separated multi-unit
    INTERVAL strings."""
    out = engine.execute(
        "SELECT TO_TIMESTAMP('1700000000') AS a, "
        "TO_TIMESTAMP('1700000000000') AS b, "
        "TO_TIMESTAMP(1700000000000, 3) AS c, "
        "TO_TIMESTAMP('1700000000123456', 6) AS d, "
        "DATE_PART('dayofyear', '2024-03-15'::DATE) AS e, "
        "'2024-01-01'::DATE + INTERVAL '1 year, 3 months' AS f, "
        "TO_TIMESTAMP('50000000000') AS g, "
        "TO_TIMESTAMP('31535999999') AS h, "
        "TO_TIMESTAMP('50000000000000') AS i, "
        "TO_TIMESTAMP('50000000000000000') AS j"
    ).to_pylist()[0]
    assert str(out["a"]).startswith("2023-11-14 22:13:20")
    assert str(out["b"]).startswith("2023-11-14 22:13:20")
    assert str(out["c"]).startswith("2023-11-14 22:13:20")
    assert ".123456" in str(out["d"])
    assert out["e"] == 75
    assert str(out["f"]) == "2025-04-01"
    # ADVICE r7 repro: 11-digit values at/above 31536000000 are MILLISECONDS
    assert str(out["g"]).startswith("1971-08-02")   # 5e10 ms, not year 3554
    assert str(out["h"]).startswith("2969-05-02")   # last seconds-band value
    assert str(out["i"]).startswith("1971-08-02")   # 5e13 us
    assert str(out["j"]).startswith("1971-08-02")   # 5e16 ns


def test_statement_probe_closures_r7(engine):
    """r7 statement-level probe closures: TRANSIENT tables (regular tables
    without fail-safe — a storage-tier distinction with no local analog),
    CREATE SEQUENCE IF NOT EXISTS, TRUNCATE's bare/IF EXISTS forms over any
    table kind, INSERT OVERWRITE INTO (truncate + insert), and CALLable
    system functions."""
    eng = engine
    eng.execute("CREATE OR REPLACE TRANSIENT TABLE st_tr AS SELECT 1 AS a")
    assert eng.execute("SELECT * FROM st_tr").to_pylist() == [{"a": 1}]
    eng.execute("CREATE SEQUENCE IF NOT EXISTS st_seq START = 5 INCREMENT = 2")
    assert eng.execute("SELECT st_seq.NEXTVAL AS v").to_pylist() == [{"v": 5}]
    eng.execute("TRUNCATE st_tr")  # bare form, no TABLE keyword
    assert eng.execute("SELECT COUNT(*) AS c FROM st_tr").to_pylist() == [{"c": 0}]
    out = eng.execute("TRUNCATE TABLE IF EXISTS st_no_such").to_pylist()
    assert "did not exist" in out[0]["status"]
    eng.execute("CREATE OR REPLACE TABLE st_t AS SELECT 1 AS a, 'x' AS b")
    eng.execute("INSERT INTO st_t SELECT 5, 'w'")
    eng.execute("INSERT OVERWRITE INTO st_t SELECT 9, 'z'")
    assert eng.execute("SELECT * FROM st_t").to_pylist() == [{"a": 9, "b": "z"}]
    out = eng.execute("CALL SYSTEM$WAIT(0)").to_pylist()
    assert "waited" in str(out[0]).lower()


def test_json_validation_and_array_insert(engine):
    out = engine.execute(
        "SELECT TRY_PARSE_JSON('{\"a\": 1}') AS ok, TRY_PARSE_JSON('nope{') AS bad, "
        "CHECK_JSON('[1,2]') AS valid_msg, CHECK_JSON('oops[') AS invalid_msg, "
        "ARRAY_INSERT(ARRAY_CONSTRUCT(1, 2, 3), 1, 99) AS ins"
    ).to_pylist()[0]
    assert out["ok"] == '{"a": 1}'
    assert out["bad"] is None
    assert out["valid_msg"] is None
    assert out["invalid_msg"] == "invalid JSON"
    assert out["ins"] == [1, 99, 2, 3]  # Snowflake 0-based position 1


def test_asof_join_sql_directions(engine, spark):
    """ASOF JOIN MATCH_CONDITION: all four operators, keyed and keyless."""
    spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)], ["sym", "qt", "quote"]
    ).createOrReplaceTempView("asof_q")
    spark.createDataFrame(
        [("A", 2, 100), ("A", 5, 200), ("A", 0, 300), ("B", 4, 400)],
        ["sym", "tt", "size"],
    ).createOrReplaceTempView("asof_t")
    back = engine.execute(
        "SELECT tt, quote FROM asof_t t ASOF JOIN asof_q q "
        "MATCH_CONDITION (t.tt >= q.qt) ON t.sym = q.sym ORDER BY sym, tt"
    ).to_pylist()
    assert [r["quote"] for r in back] == [None, 10.0, 11.0, 20.0]
    strict_back = engine.execute(
        "SELECT tt, quote FROM asof_t t ASOF JOIN asof_q q "
        "MATCH_CONDITION (t.tt > q.qt) ON t.sym = q.sym ORDER BY sym, tt"
    ).to_pylist()
    assert [r["quote"] for r in strict_back] == [None, 10.0, 10.0, 20.0]  # tt=5 excludes qt=5
    fwd = engine.execute(
        "SELECT tt, quote FROM asof_t t ASOF JOIN asof_q q "
        "MATCH_CONDITION (t.tt < q.qt) ON t.sym = q.sym ORDER BY sym, tt"
    ).to_pylist()
    assert [r["quote"] for r in fwd] == [10.0, 11.0, None, None]
    # keyless: global as-of ordering, colliding right column suffixed _r
    keyless = engine.execute(
        "SELECT tt, sym, sym_r, quote FROM asof_t ASOF JOIN asof_q "
        "MATCH_CONDITION (tt >= qt) ORDER BY tt"
    ).to_pylist()
    assert [r["quote"] for r in keyless] == [None, 10.0, 20.0, 11.0]


def test_asof_join_right_alias_references(engine, spark):
    """Snowflake lets the SELECT list reference BOTH sides of an ASOF JOIN;
    right-alias-qualified references (q.qt — including the MATCH_CONDITION
    timestamp itself) must resolve to the joined output, and a left bare
    TABLE name must stay usable as a qualifier."""
    spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)], ["sym", "qt", "quote"]
    ).createOrReplaceTempView("asof_q")
    spark.createDataFrame(
        [("A", 2, 100), ("A", 5, 200), ("A", 0, 300), ("B", 4, 400)],
        ["sym", "tt", "size"],
    ).createOrReplaceTempView("asof_t")
    out = engine.execute(
        "SELECT t.tt, q.qt AS matched_at, q.quote FROM asof_t t ASOF JOIN asof_q q "
        "MATCH_CONDITION (t.tt >= q.qt) ON t.sym = q.sym ORDER BY t.sym, t.tt"
    ).to_pylist()
    assert [r["matched_at"] for r in out] == [None, 1, 5, 3]
    assert [r["quote"] for r in out] == [None, 10.0, 11.0, 20.0]
    # left operand WITHOUT an alias: its bare table name qualifies output
    out2 = engine.execute(
        "SELECT asof_t.tt, q.quote FROM asof_t ASOF JOIN asof_q q "
        "MATCH_CONDITION (asof_t.tt >= q.qt) ON asof_t.sym = q.sym "
        "ORDER BY asof_t.sym, asof_t.tt"
    ).to_pylist()
    assert [r["quote"] for r in out2] == [None, 10.0, 11.0, 20.0]
    # self-join where both sides share column names: right refs land on _r
    out3 = engine.execute(
        "SELECT a.tt, b.tt AS prev_tt FROM asof_t a ASOF JOIN asof_t b "
        "MATCH_CONDITION (a.tt > b.tt) ON a.sym = b.sym ORDER BY a.sym, a.tt"
    ).to_pylist()
    assert [r["prev_tt"] for r in out3] == [None, 0, 2, None]


def test_scripting_block(engine):
    """Snowflake Scripting: DECLARE/LET/IF/FOR/RETURN + :var binds in SQL."""
    out = engine.execute(
        """DECLARE
  x INT DEFAULT 0;
  msg STRING;
BEGIN
  LET y := 10;
  x := x + y;
  IF (x > 5) THEN msg := 'big';
  ELSEIF (x > 2) THEN msg := 'mid';
  ELSE msg := 'small';
  END IF;
  FOR i IN 1 TO 3 DO
    x := x + i;
  END FOR;
  CREATE OR REPLACE TEMP TABLE script_t AS SELECT :x AS v;
  RETURN msg || ':' || x;
END;"""
    ).to_pylist()
    assert out == [{"RETURN_VALUE": "big:16"}]
    assert engine.execute("SELECT * FROM script_t").to_pylist() == [{"v": 16}]


def test_scripting_nested_and_exec_immediate(engine):
    out = engine.execute(
        """BEGIN
  LET total := 0;
  FOR i IN 1 TO 3 DO
    IF (i % 2 = 1) THEN
      LET total := total + i;
    END IF;
  END FOR;
  RETURN total;
END"""
    ).to_pylist()
    assert out == [{"RETURN_VALUE": "4"}]  # 1 + 3
    out = engine.execute(
        "EXECUTE IMMEDIATE $$ BEGIN IF (1 = 2) THEN RETURN 'no'; ELSE RETURN 'yes'; END IF; END $$"
    ).to_pylist()
    assert out == [{"RETURN_VALUE": "yes"}]
    # untaken branches run nothing: the CASE inside a statement is inert
    out = engine.execute(
        """BEGIN
  IF (false) THEN
    CREATE TABLE never_made AS SELECT CASE WHEN 1=1 THEN 'x' END AS c;
  END IF;
  RETURN 'skipped';
END"""
    ).to_pylist()
    assert out == [{"RETURN_VALUE": "skipped"}]
    import pyarrow  # noqa: F401

    assert "never_made" not in {t.name for t in engine.spark.catalog.listTables()}


def test_sql_udf_create_function(engine):
    """Snowflake CREATE FUNCTION -> Spark 4 SQL UDF (session-scoped)."""
    engine.execute("CREATE OR REPLACE FUNCTION area(r DOUBLE) RETURNS DOUBLE AS 'pi() * SQUARE(r)'")
    out = engine.execute("SELECT ROUND(area(2.0), 4) AS a").to_pylist()
    assert out == [{"a": 12.5664}]
    engine.execute(
        "CREATE OR REPLACE FUNCTION tag(n NUMBER) RETURNS STRING AS $$ IFF(n > 0, 'pos', 'neg') $$"
    )
    out = engine.execute("SELECT tag(-5) AS t, tag(3) AS t2").to_pylist()
    assert out == [{"t": "neg", "t2": "pos"}]


def test_stored_procedure_call(engine):
    """CREATE PROCEDURE + CALL run through the scripting interpreter with
    argument binding; the $$ body's semicolons survive statement splitting."""
    engine.execute(
        """CREATE OR REPLACE PROCEDURE count_upto(lim INT) RETURNS STRING LANGUAGE SQL AS $$
BEGIN
  LET c := (SELECT COUNT(*) FROM orders WHERE o_orderkey <= :lim);
  IF (c > 10) THEN RETURN 'many:' || c; ELSE RETURN 'few:' || c; END IF;
END $$"""
    )
    many = engine.execute("CALL count_upto(5 * 4)").to_pylist()[0]["COUNT_UPTO"]
    few = engine.execute("CALL count_upto(2)").to_pylist()[0]["COUNT_UPTO"]
    assert many.startswith("many:") and few.startswith("few:")
    import pytest as _pytest

    from universql_spark.engine import QueryError

    with _pytest.raises(QueryError, match="does not exist"):
        engine.execute("CALL no_such_proc(1)")
    with _pytest.raises(QueryError, match="takes 1 arguments"):
        engine.execute("CALL count_upto(1, 2)")


def test_client_compat_ring(engine, spark):
    """GRANT/REVOKE/COMMENT accepted honestly; ALTER TABLE RENAME works on
    snapshot tables; SHOW PROCEDURES lists stored procedures."""
    out = engine.execute("GRANT SELECT ON TABLE orders TO ROLE analyst").to_pylist()
    assert "not enforced" in out[0]["status"]
    out = engine.execute("COMMENT ON TABLE orders IS 'fact table'").to_pylist()
    assert "comment" in out[0]["status"]
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ren_t AS SELECT 1 AS a")
    engine.execute("ALTER TABLE ren_t RENAME TO ren_t2")
    assert engine.execute("SELECT * FROM ren_t2").to_pylist() == [{"a": 1}]
    engine.execute(
        "CREATE OR REPLACE PROCEDURE listed_p(x INT) RETURNS STRING AS $$ BEGIN RETURN 'ok'; END $$"
    )
    rows = engine.execute("SHOW PROCEDURES").to_pylist()
    assert any(r["name"] == "LISTED_P" for r in rows)


def test_hll_sketch_merge_is_lossless(engine):
    eng = engine
    """HLL_COMBINE of per-group sketches == one global sketch (register-wise
    max is exact), and the estimate is within HLL error of the truth."""
    out = eng.execute(
        "SELECT HLL_ESTIMATE(HLL_COMBINE(sk)) AS m, "
        "(SELECT HLL_ESTIMATE(HLL_ACCUMULATE(o_custkey)) FROM orders) AS d, "
        "(SELECT COUNT(DISTINCT o_custkey) FROM orders) AS t "
        "FROM (SELECT o_orderpriority, HLL_ACCUMULATE(o_custkey) AS sk "
        "      FROM orders GROUP BY o_orderpriority)"
    ).to_pydict()
    m, d, t = out["m"][0], out["d"][0], out["t"][0]
    assert m == d
    assert abs(m - t) / t < 0.05


def test_copy_into_location_unload_roundtrip(spark, sf_dir, tmp_path):
    """COPY INTO @stage (unload) writes CSV/parquet to the stage and the
    load direction reads the same rows back — full export/import cycle."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute("CREATE STAGE exp")
    out = eng.execute(
        "COPY INTO @exp/nat FROM (SELECT n_nationkey, n_name FROM nation) "
        "FILE_FORMAT = (TYPE = PARQUET) OVERWRITE = TRUE"
    ).to_pydict()
    assert out["rows_unloaded"] == [25]
    assert out["files_written"][0] >= 1
    stage_url = eng.stages["exp"]
    back = spark.read.parquet(stage_url + "/nat")
    assert back.count() == 25
    # CSV single-file unload with header
    out2 = eng.execute(
        "COPY INTO @exp/csv FROM nation FILE_FORMAT = (TYPE = CSV) "
        "HEADER = TRUE SINGLE = TRUE OVERWRITE = TRUE"
    ).to_pydict()
    assert out2["rows_unloaded"] == [25]
    assert out2["files_written"] == [1]
    back2 = spark.read.option("header", "true").csv(stage_url + "/csv")
    assert back2.count() == 25 and "n_name" in back2.columns


def test_stream_change_tracking(spark, sf_dir):
    """Snowflake STREAM objects: change feed since the bookmark, advanced
    only by a consuming DML (read-on-DML contract)."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE ICEBERG TABLE stt AS SELECT id, id * 2 AS v FROM range(5);"
        "CREATE STREAM st_chg ON TABLE stt"
    )
    # no changes yet
    assert eng.execute("SELECT COUNT(*) AS n FROM st_chg").to_pydict()["n"] == [0]
    eng.execute("INSERT INTO stt SELECT 100 AS id, 200 AS v; DELETE FROM stt WHERE id = 1")
    out = eng.execute(
        "SELECT metadata$action AS act, id FROM st_chg ORDER BY act, id"
    ).to_pydict()
    assert out["act"] == ["DELETE", "INSERT"]
    assert out["id"] == [1, 100]
    # an UPDATE surfaces as DELETE+INSERT of the row
    eng.execute("UPDATE stt SET v = 999 WHERE id = 2")
    acts = eng.execute(
        "SELECT metadata$action AS act, id, v FROM st_chg WHERE id = 2 ORDER BY v"
    ).to_pydict()
    assert acts["act"] == ["DELETE", "INSERT"] and acts["v"] == [4, 999]
    # plain SELECTs do NOT consume; a DML reading the stream does
    eng.execute(
        "CREATE OR REPLACE TABLE chg_sink AS "
        "SELECT id, v, metadata$action AS action FROM st_chg"
    )
    assert eng.execute("SELECT COUNT(*) AS n FROM chg_sink").to_pydict()["n"][0] >= 3
    assert eng.execute("SELECT COUNT(*) AS n FROM st_chg").to_pydict()["n"] == [0]
    show = eng.execute("SHOW STREAMS").to_pydict()
    assert show["name"] == ["st_chg"] and show["has_changes"] == [False]
    eng.execute("DROP STREAM st_chg")
    assert eng.execute("SHOW STREAMS").to_pydict()["name"] == []


def test_show_surface_completions(spark, sf_dir):
    """r6-endgame SHOW gaps: STAGES LIKE filter, PIPES (honestly empty),
    IMPORTED KEYS from the declared-FK registry, TABLES IN DATABASE via
    the db__schema name mapping."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.execute("SHOW PIPES").to_pylist() == []
    eng.execute("CREATE OR REPLACE TABLE parent_k (id INT PRIMARY KEY)")
    eng.execute(
        "CREATE OR REPLACE TABLE child_k (pid INT, "
        "CONSTRAINT fk1 FOREIGN KEY (pid) REFERENCES parent_k (id))"
    )
    fk = eng.execute("SHOW IMPORTED KEYS").to_pylist()
    assert {"pk_table_name": "PARENT_K", "pk_column_name": "ID",
            "fk_table_name": "CHILD_K", "fk_column_name": "PID"} in fk
    eng.execute("CREATE STAGE show_st1; CREATE STAGE other_st2")
    assert eng.execute("SHOW STAGES LIKE 'show%'").to_pydict()["name"] == ["SHOW_ST1"]
    eng.execute("DROP TABLE child_k; DROP TABLE parent_k")  # before USE switches db
    eng.execute(
        "CREATE DATABASE IF NOT EXISTS showdb; USE DATABASE showdb; "
        "CREATE OR REPLACE TABLE sd_t AS SELECT 1 AS id"
    )
    assert "SD_T" in eng.execute("SHOW TABLES IN DATABASE showdb").to_pydict()["name"]
    eng.execute("DROP TABLE sd_t")


def test_stream_on_plain_table_adopts(spark, sf_dir):
    """CREATE STREAM works on a PLAIN table: it is an Iceberg table from its
    CREATE, so change tracking works like Snowflake's without the user
    declaring ICEBERG up front. Policy SHOW surfaces alongside."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE TABLE plain_st AS SELECT 1 AS id;"
        "CREATE OR REPLACE STREAM plain_s ON TABLE plain_st"
    )
    eng.execute("INSERT INTO plain_st VALUES (2)")
    out = eng.execute("SELECT id, metadata$action AS act FROM plain_s").to_pydict()
    assert out["id"] == [2] and out["act"] == ["INSERT"]
    eng.execute("DROP STREAM plain_s; DROP TABLE plain_st")
    eng.execute(
        "CREATE OR REPLACE MASKING POLICY shmp AS (val STRING) RETURNS STRING -> "
        "CASE WHEN CURRENT_ROLE() = 'ACCOUNTADMIN' THEN val ELSE '***' END"
    )
    eng.execute(
        "CREATE OR REPLACE ROW ACCESS POLICY shrap AS (id INT) RETURNS BOOLEAN -> id > 0"
    )
    mp = eng.execute("SHOW MASKING POLICIES LIKE 'shmp'").to_pydict()
    assert mp["name"] == ["shmp"] and mp["kind"] == ["MASKING_POLICY"]
    rap = eng.execute("SHOW ROW ACCESS POLICIES").to_pydict()
    assert "shrap" in rap["name"]


def test_task_objects_with_stream_gate(spark, sf_dir):
    """CREATE TASK ... WHEN SYSTEM$STREAM_HAS_DATA('s') AS <dml>: EXECUTE
    TASK skips while the stream is empty, runs + consumes when it has data
    — the standard Snowflake stream+task incremental-pipeline pattern."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE ICEBERG TABLE tsk_src AS SELECT id FROM range(3);"
        "CREATE STREAM tsk_s ON TABLE tsk_src;"
        "CREATE OR REPLACE TABLE tsk_sink AS SELECT id FROM range(0);"
        "CREATE TASK tsk_load WAREHOUSE = w SCHEDULE = '5 minute' "
        "WHEN SYSTEM$STREAM_HAS_DATA('tsk_s') "
        "AS INSERT INTO tsk_sink SELECT id FROM tsk_s"
    )
    # empty stream: gated off
    assert "skipped" in eng.execute("EXECUTE TASK tsk_load").to_pydict()["status"][0]
    assert eng.execute("SELECT COUNT(*) AS n FROM tsk_sink").to_pydict()["n"] == [0]
    eng.execute("INSERT INTO tsk_src SELECT 7 AS id")
    assert "executed" in eng.execute("EXECUTE TASK tsk_load").to_pydict()["status"][0]
    assert eng.execute("SELECT id FROM tsk_sink").to_pydict()["id"] == [7]
    # the consuming INSERT advanced the bookmark: next run is gated off
    assert "skipped" in eng.execute("EXECUTE TASK tsk_load").to_pydict()["status"][0]
    show = eng.execute("SHOW TASKS").to_pydict()
    assert show["name"] == ["tsk_load"] and show["schedule"] == ["5 minute"]
    eng.execute("ALTER TASK tsk_load RESUME")
    assert eng.execute("SHOW TASKS").to_pydict()["state"] == ["started"]
    eng.execute("DROP TASK tsk_load")
    assert eng.execute("SHOW TASKS").to_pydict()["name"] == []


def test_masking_and_row_access_policies(spark, sf_dir):
    """Governance surface: masking policies rewrite projected columns, row
    access policies filter rows, both bound to CURRENT_ROLE() and
    re-bound on USE ROLE. Applied at view refresh, so every consumer sees
    policied data."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE ICEBERG TABLE pol_t AS "
        "SELECT id, concat('user', id) AS email, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang "
        "FROM range(6);"
        "CREATE MASKING POLICY mask_email AS (val STRING) RETURNS STRING -> "
        "CASE WHEN CURRENT_ROLE() = 'ACCOUNTADMIN' THEN val ELSE '***' END;"
        "CREATE ROW ACCESS POLICY only_en AS (l STRING) RETURNS BOOLEAN -> "
        "l = 'en' OR CURRENT_ROLE() = 'ACCOUNTADMIN';"
        "ALTER TABLE pol_t MODIFY COLUMN email SET MASKING POLICY mask_email;"
        "ALTER TABLE pol_t ADD ROW ACCESS POLICY only_en ON (lang)"
    )
    # admin: all rows, unmasked
    out = eng.execute("SELECT COUNT(*) AS n, MIN(email) AS e FROM pol_t").to_pydict()
    assert out["n"] == [6] and out["e"] == ["user0"]
    assert eng.execute("SELECT CURRENT_ROLE() AS r").to_pydict()["r"] == ["ACCOUNTADMIN"]
    # analyst: row-filtered and masked
    eng.execute("USE ROLE analyst")
    out2 = eng.execute(
        "SELECT COUNT(*) AS n, MIN(email) AS e, MIN(lang) AS l FROM pol_t"
    ).to_pydict()
    assert out2["n"] == [3] and out2["e"] == ["***"] and out2["l"] == ["en"]
    # policies survive DML-triggered view refreshes
    eng.execute("USE ROLE accountadmin")
    eng.execute("INSERT INTO pol_t SELECT 100 AS id, 'secret' AS email, 'de' AS lang")
    eng.execute("USE ROLE analyst")
    got = eng.execute("SELECT COUNT(*) AS n FROM pol_t WHERE email = '***'").to_pydict()
    assert got["n"] == [3]  # the new 'de' row is filtered for analyst
    # unset restores raw values
    eng.execute("USE ROLE accountadmin")
    eng.execute(
        "ALTER TABLE pol_t MODIFY COLUMN email UNSET MASKING POLICY;"
        "ALTER TABLE pol_t DROP ROW ACCESS POLICY only_en"
    )
    eng.execute("USE ROLE analyst")
    assert eng.execute("SELECT COUNT(*) AS n FROM pol_t").to_pydict()["n"] == [7]


def test_describe_table_and_get_ddl(spark, sf_dir):
    eng = Engine(spark=spark, sf_dir=sf_dir)
    d = eng.execute("DESCRIBE TABLE nation").to_pydict()
    assert d["name"] == ["n_nationkey", "n_name", "n_regionkey"]
    assert d["type"][1] == "VARCHAR(16777216)" and d["type"][0].startswith("NUMBER")
    ddl = eng.execute("SELECT GET_DDL('TABLE', 'region') AS d").to_pydict()["d"][0]
    assert ddl.startswith("CREATE OR REPLACE TABLE region (")
    assert "r_name VARCHAR(16777216)" in ddl
    eng.execute(
        "CREATE OR REPLACE ICEBERG TABLE ddl_t AS SELECT id FROM range(2);"
        "CREATE STREAM ddl_s ON TABLE ddl_t;"
        "CREATE TASK ddl_k SCHEDULE = '1 hour' AS SELECT 1"
    )
    assert "ICEBERG TABLE ddl_t" in eng.execute(
        "SELECT GET_DDL('TABLE', 'ddl_t') AS d").to_pydict()["d"][0]
    assert "STREAM ddl_s ON TABLE ddl_t" in eng.execute(
        "SELECT GET_DDL('STREAM', 'ddl_s') AS d").to_pydict()["d"][0]
    assert "SCHEDULE = '1 hour'" in eng.execute(
        "SELECT GET_DDL('TASK', 'ddl_k') AS d").to_pydict()["d"][0]
    # SYSTEM$STREAM_HAS_DATA works in plain SELECTs
    assert eng.execute(
        "SELECT SYSTEM$STREAM_HAS_DATA('ddl_s') AS h").to_pydict()["h"] == [False]


def test_sql_table_function_macro(spark, sf_dir):
    """CREATE FUNCTION ... RETURNS TABLE inlines at the call site — the
    planner sees the expanded query, so pushdown crosses the boundary."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE FUNCTION nations_of(rk INT) RETURNS TABLE (k INT, name STRING) AS "
        "'SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey = rk'"
    )
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM TABLE(nations_of(1))"
    ).to_pydict()["n"] == [5]
    out = eng.execute(
        "SELECT t.k FROM TABLE(nations_of(1 + 1)) t WHERE t.k < 10 ORDER BY t.k"
    ).to_pydict()
    assert all(k < 10 for k in out["k"]) and len(out["k"]) > 0
    import pytest as _pytest

    with _pytest.raises(QueryError, match="expects 1 args"):
        eng.execute("SELECT * FROM TABLE(nations_of())")


def test_insert_multi_table(spark, sf_dir):
    """INSERT FIRST routes each source row to the first matching branch
    (ELSE catches the rest); INSERT ALL fans out unconditionally; the
    source SELECT runs once."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE TABLE mi_a AS SELECT n_nationkey AS k FROM nation WHERE 1=0;"
        "CREATE OR REPLACE TABLE mi_b AS SELECT n_nationkey AS k FROM nation WHERE 1=0;"
        "CREATE OR REPLACE TABLE mi_c AS SELECT n_nationkey AS k FROM nation WHERE 1=0"
    )
    out = eng.execute(
        "INSERT FIRST "
        "WHEN n_nationkey < 5 THEN INTO mi_a (k) VALUES (n_nationkey) "
        "WHEN n_nationkey < 15 THEN INTO mi_b (k) VALUES (n_nationkey) "
        "ELSE INTO mi_c (k) VALUES (n_nationkey) "
        "SELECT n_nationkey FROM nation"
    ).to_pydict()
    assert out["rows_inserted"] == [5, 10, 10]  # exclusive, ordered
    # ALL: every branch gets every (matching) row
    out2 = eng.execute(
        "INSERT ALL "
        "WHEN n_nationkey < 5 THEN INTO mi_a (k) VALUES (n_nationkey) "
        "WHEN n_nationkey < 15 THEN INTO mi_b (k) VALUES (n_nationkey) "
        "SELECT n_nationkey FROM nation"
    ).to_pydict()
    assert out2["rows_inserted"] == [5, 15]  # ALL: WHENs overlap


def test_undrop_table(spark, sf_dir):
    """Snowflake Time-Travel DROP: files survive the drop and UNDROP
    restores the table with its full history."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute(
        "CREATE OR REPLACE ICEBERG TABLE ud_t AS SELECT id FROM range(4);"
        "INSERT INTO ud_t SELECT 99 AS id;"
        "DROP TABLE ud_t"
    )
    with pytest.raises(Exception):
        eng.execute("SELECT * FROM ud_t")
    eng.execute("UNDROP TABLE ud_t")
    assert eng.execute("SELECT COUNT(*) AS n FROM ud_t").to_pydict()["n"] == [5]
    # history intact (the drop was metadata-only)
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM ud_t AT(SNAPSHOT => 1)"
    ).to_pydict()["n"] == [4]
    with pytest.raises(QueryError, match="no dropped table"):
        eng.execute("UNDROP TABLE never_existed")


def test_sequence_objects(spark, sf_dir):
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.execute("CREATE OR REPLACE SEQUENCE sq START = 10 INCREMENT = 2")
    assert eng.execute("SELECT sq.NEXTVAL AS v").to_pydict()["v"] == [10]
    # per-row values within one statement: unique, increment-spaced
    out = eng.execute(
        "SELECT sq.NEXTVAL AS v FROM range(5) ORDER BY v"
    ).to_pydict()["v"]
    assert len(set(out)) == 5
    assert all(b - a == 2 for a, b in zip(out, out[1:]))
    # a later statement never collides with an earlier one
    nxt = eng.execute("SELECT sq.NEXTVAL AS v").to_pydict()["v"][0]
    assert nxt > max(out)
    eng.execute("DROP SEQUENCE sq")


def test_external_table_over_stage(spark, sf_dir, tmp_path):
    """CREATE EXTERNAL TABLE over a stage location: a named relation whose
    file set re-lists on REFRESH — new files appear without re-DDL."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    # URL-form stage under tmp_path: a fresh location per run (a bare named
    # stage persists in the warehouse dir and leaks part2 into the next
    # session's first COUNT)
    eng.execute(f"CREATE OR REPLACE STAGE ext_stg URL='file://{tmp_path}'")
    eng.execute(
        "COPY INTO @ext_stg/part1 FROM (SELECT n_nationkey AS k, n_name AS nm FROM nation) "
        "FILE_FORMAT = (TYPE = PARQUET) OVERWRITE = TRUE"
    )
    eng.execute(
        "CREATE OR REPLACE EXTERNAL TABLE ext_nat "
        "LOCATION = @ext_stg FILE_FORMAT = (TYPE = PARQUET)"
    )
    assert eng.execute("SELECT COUNT(*) AS n FROM ext_nat").to_pydict()["n"] == [25]
    # new files under the location appear after REFRESH
    eng.execute(
        "COPY INTO @ext_stg/part2 FROM (SELECT n_nationkey + 100 AS k, n_name AS nm FROM nation) "
        "FILE_FORMAT = (TYPE = PARQUET) OVERWRITE = TRUE"
    )
    eng.execute("ALTER EXTERNAL TABLE ext_nat REFRESH")
    assert eng.execute("SELECT COUNT(*) AS n FROM ext_nat").to_pydict()["n"] == [50]
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM ext_nat WHERE k >= 100"
    ).to_pydict()["n"] == [25]


def test_select_top_and_group_by_all(engine):
    """Snowflake `SELECT TOP n` -> LIMIT at the SELECT's own block edge;
    GROUP BY ALL passes through (native in Spark 4)."""
    out = engine.execute(
        "SELECT TOP 3 o_orderkey AS k FROM orders ORDER BY o_orderkey"
    )
    assert len(out) == 3
    # subquery form: the LIMIT must land INSIDE the parens
    out = engine.execute(
        "SELECT COUNT(*) AS c FROM "
        "(SELECT TOP 7 o_orderkey FROM orders ORDER BY o_orderkey) q"
    )
    assert out.to_pylist() == [{"c": 7}]
    # DISTINCT TOP + literal containing 'TOP 3' untouched
    out = engine.execute(
        "SELECT DISTINCT TOP 2 'TOP 3' AS s, o_orderpriority FROM orders"
    )
    assert len(out) == 2 and out.to_pylist()[0]["s"] == "TOP 3"
    out = engine.execute(
        "SELECT o_orderpriority AS p, COUNT(*) AS c FROM orders "
        "GROUP BY ALL ORDER BY p LIMIT 2"
    )
    assert len(out) == 2


def test_timestamp_from_parts_and_timeadd(engine):
    out = engine.execute(
        "SELECT DATE_FROM_PARTS(2024, 2, 29) AS d, "
        "TO_VARCHAR(TIMESTAMP_FROM_PARTS(2024, 1, 2, 3, 4, 5, 500000000), "
        "'YYYY-MM-DD HH24:MI:SS.FF3') AS ts, "
        "TO_VARCHAR(TIMEADD(hour, 2, TIMESTAMP_FROM_PARTS(2024, 1, 1, 23, 0, 0)), "
        "'YYYY-MM-DD HH24:MI') AS t2, "
        "TIMEDIFF(minute, TIMESTAMP_FROM_PARTS(2024, 1, 1, 0, 0, 0), "
        "TIMESTAMP_FROM_PARTS(2024, 1, 2, 0, 0, 0)) AS md"
    ).to_pylist()[0]
    assert str(out["d"]) == "2024-02-29"
    assert out["ts"] == "2024-01-02 03:04:05.500"
    assert out["t2"] == "2024-01-02 01:00"
    assert out["md"] == 1440


def test_array_remove_at_zero_based(engine):
    out = engine.execute(
        "SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(10, 20, 30), 0) AS a, "
        "ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(10, 20, 30), 2) AS b, "
        "ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(10, 20, 30), -1) AS c, "
        "ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(10, 20, 30), 9) AS oob"
    ).to_pylist()[0]
    assert out["a"] == [20, 30] and out["b"] == [10, 20]
    assert out["c"] == [10, 20] and out["oob"] == [10, 20, 30]


def test_object_insert_delete_pick(engine):
    row = engine.execute(
        "SELECT OBJECT_INSERT(PARSE_JSON('{\"a\":1,\"b\":2}'), 'z', 42) AS ins, "
        "OBJECT_INSERT(PARSE_JSON('{\"a\":1,\"b\":2}'), 'b', 99, TRUE) AS upd, "
        "OBJECT_DELETE(PARSE_JSON('{\"a\":1,\"b\":2,\"c\":3}'), 'b', 'c') AS del, "
        "OBJECT_PICK(PARSE_JSON('{\"a\":1,\"b\":\"x\",\"c\":{\"d\":2}}'), 'a', 'c') AS pick"
    ).to_pylist()[0]
    assert row["ins"] == '{"a":1,"b":2,"z":42}'
    assert row["upd"] == '{"a":1,"b":99}'
    assert row["del"] == '{"a":1}'
    assert row["pick"] == '{"a":1,"c":{"d":2}}'
    # 3-arg insert on an existing key raises, like Snowflake
    import pytest as _pytest
    from universql_spark.engine import QueryError
    with _pytest.raises(Exception):
        engine.execute("SELECT OBJECT_INSERT(PARSE_JSON('{\"a\":1}'), 'a', 9) AS x")


def test_warehouse_lifecycle_and_show(engine):
    engine.execute("CREATE WAREHOUSE etl_wh WAREHOUSE_SIZE = 'LARGE'")
    engine.execute("USE WAREHOUSE etl_wh")
    row = engine.execute("SELECT CURRENT_WAREHOUSE() AS w").to_pylist()[0]
    assert row["w"] == "ETL_WH"
    rows = {r["name"]: r for r in engine.execute("SHOW WAREHOUSES").to_pylist()}
    assert rows["ETL_WH"]["size"] == "LARGE" and rows["ETL_WH"]["is_current"] == "Y"
    engine.execute("ALTER WAREHOUSE etl_wh SUSPEND")
    rows = {r["name"]: r for r in engine.execute("SHOW WAREHOUSES").to_pylist()}
    assert rows["ETL_WH"]["state"] == "SUSPENDED"
    engine.execute("DROP WAREHOUSE etl_wh")
    rows = {r["name"]: r for r in engine.execute("SHOW WAREHOUSES").to_pylist()}
    assert "ETL_WH" not in rows
    # dropping the current warehouse falls back to the engine's own
    assert engine.execute("SELECT CURRENT_WAREHOUSE() AS w").to_pylist()[0]["w"] == "x-spark"


def test_show_grants_records_and_filters(engine):
    engine.execute("GRANT SELECT ON TABLE orders TO ROLE analyst")
    engine.execute("GRANT INSERT ON TABLE orders TO ROLE etl")
    rows = engine.execute("SHOW GRANTS ON orders").to_pylist()
    assert {(r["privilege"], r["grantee_name"]) for r in rows} >= {
        ("SELECT", "ANALYST"), ("INSERT", "ETL")}
    rows = engine.execute("SHOW GRANTS TO ROLE analyst").to_pylist()
    assert all(r["grantee_name"] == "ANALYST" for r in rows) and rows
    engine.execute("REVOKE SELECT ON TABLE orders FROM ROLE analyst")
    rows = engine.execute("SHOW GRANTS TO ROLE analyst").to_pylist()
    assert ("SELECT", "ORDERS") not in {(r["privilege"], r["name"]) for r in rows}


def test_show_parameters_and_query_tag(engine):
    rows = {r["key"]: r for r in engine.execute("SHOW PARAMETERS LIKE 'TIME%'").to_pylist()}
    assert "TIMEZONE" in rows and rows["TIMEZONE"]["value"] == "UTC"
    engine.execute("ALTER SESSION SET QUERY_TAG = 'nightly_etl'")
    engine.execute("SELECT 1 AS x")
    assert engine.query_log[-1].get("query_tag") == "nightly_etl"
    rows = {r["key"]: r for r in engine.execute("SHOW PARAMETERS LIKE 'QUERY_TAG'").to_pylist()}
    assert rows["QUERY_TAG"]["value"] == "nightly_etl" and rows["QUERY_TAG"]["level"] == "SESSION"
    out = engine.execute(
        "SELECT CURRENT_VERSION() AS v, CURRENT_SESSION() AS s"
    ).to_pylist()[0]
    assert out["v"] and out["s"]


def test_user_and_table_stages(engine, tmp_path):
    """Implicit stages: `@~` (user) and `@%tbl` (table stage) — the SnowSQL
    PUT-then-COPY loading idiom works against both without CREATE STAGE."""
    f = tmp_path / "u.csv"
    f.write_text("k,v\n1,a\n2,b\n")
    engine.execute(f"PUT 'file://{f}' @~/up AUTO_COMPRESS = FALSE")
    rows = engine.execute("LIST @~/up").to_pylist()
    assert any(r["name"].endswith("u.csv") for r in rows)
    engine.execute("CREATE OR REPLACE TEMP TABLE tstage_t (k INT, v STRING)")
    engine.execute(f"PUT 'file://{f}' @%tstage_t AUTO_COMPRESS = FALSE")
    engine.execute(
        "COPY INTO tstage_t FROM @%tstage_t FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)"
    )
    out = engine.execute("SELECT COUNT(*) AS n FROM tstage_t").to_pylist()
    assert out == [{"n": 2}]
    engine.execute("REMOVE @~/up")
    assert engine.execute("LIST @~/up").to_pylist() == []


def test_clustering_information(engine):
    """SYSTEM$CLUSTERING_INFORMATION from manifest bounds: a CLUSTER BY
    table's files have disjoint key ranges (depth 1); re-appending the same
    key range on top degrades depth — the metric must see it."""
    import json

    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE clust_t CLUSTER BY (k) AS "
        "SELECT o_orderkey AS k, o_totalprice AS v FROM orders"
    )
    out = engine.execute(
        "SELECT SYSTEM$CLUSTERING_INFORMATION('clust_t') AS ci"
    ).to_pylist()[0]["ci"]
    info = json.loads(out)
    assert info["cluster_by_keys"] == "LINEAR(k)"
    assert info["total_partition_count"] >= 1
    base_depth = info["average_depth"]
    assert base_depth == 1.0, info  # range-clustered write -> disjoint files
    # overlap the whole key range: one more file spanning everything
    engine.execute(
        "INSERT INTO clust_t SELECT o_orderkey AS k, o_totalprice AS v FROM orders"
    )
    out = engine.execute(
        "SELECT SYSTEM$CLUSTERING_INFORMATION('clust_t', '(k)') AS ci"
    ).to_pylist()[0]["ci"]
    info2 = json.loads(out)
    assert info2["average_depth"] > base_depth, info2
    engine.execute("DROP TABLE clust_t")


def test_get_variant_and_array(engine):
    row = engine.execute(
        "SELECT GET(PARSE_JSON('{\"a\": {\"b\": 7}}'), 'a') AS obj_get, "
        "GET(props, 'k') AS col_get, "
        "GET(ARRAY_CONSTRUCT(10, 20, 30), 1) AS arr_get "
        "FROM events ORDER BY event_id LIMIT 1"
    ).to_pylist()[0]
    assert row["obj_get"] == '{"b":7}'
    assert row["col_get"] is not None
    assert row["arr_get"] == 20  # 0-based, Spark-native = Snowflake semantics


@pytest.mark.parametrize(
    "create",
    [
        "CREATE OR REPLACE ICEBERG TABLE copt_t AS "
        "SELECT CAST(NULL AS INT) AS k, CAST(NULL AS STRING) AS v WHERE 1 = 0",
        "CREATE OR REPLACE TABLE copt_t (k INT, v STRING)",
        "CREATE OR REPLACE TEMP TABLE copt_t (k INT, v STRING)",
    ],
    ids=["iceberg", "plain", "temp"],
)
def test_copy_on_error_continue_and_validation(engine, tmp_path, create):
    """COPY copyOptions on every table kind: VALIDATION_MODE=RETURN_ERRORS
    dry-runs and returns the rejected records; ON_ERROR=CONTINUE loads the
    good rows and counts the bad ones; MATCH_BY_COLUMN_NAME loads by name,
    not position."""
    f = tmp_path / "mixed.csv"
    f.write_text("1,a\n2,b\nnotanint,c\n3,d\n")
    engine.execute(create)
    engine.execute(f"CREATE OR REPLACE STAGE copt_stg URL='file://{tmp_path}'")
    out = engine.execute(
        "COPY INTO copt_t FROM @copt_stg/mixed.csv "
        "FILE_FORMAT = (TYPE = CSV) VALIDATION_MODE = 'RETURN_ERRORS'"
    ).to_pylist()
    assert len(out) == 1 and "notanint" in out[0]["rejected_record"]
    assert engine.execute("SELECT COUNT(*) AS n FROM copt_t").to_pylist() == [{"n": 0}]
    out = engine.execute(
        "COPY INTO copt_t FROM @copt_stg/mixed.csv "
        "FILE_FORMAT = (TYPE = CSV) ON_ERROR = CONTINUE"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 3 and out["errors_seen"] == 1
    assert out["status"] == "PARTIALLY_LOADED"
    assert engine.execute("SELECT COUNT(*) AS n FROM copt_t").to_pylist() == [{"n": 3}]
    # by-name load: source columns reversed vs target order
    g = tmp_path / "named.csv"
    g.write_text("v,k\nx,7\n")
    out = engine.execute(
        "COPY INTO copt_t FROM @copt_stg/named.csv "
        "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1) "
        "MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 1
    row = engine.execute("SELECT k, v FROM copt_t WHERE k = 7").to_pylist()
    assert row == [{"k": 7, "v": "x"}]
    assert "copt_t" in engine.snap_tables
    engine.execute("DROP TABLE copt_t")


def test_infer_schema_table_function(engine, tmp_path):
    f = tmp_path / "inf.csv"
    f.write_text("id,name,price\n1,widget,9.5\n2,gadget,11.25\n")
    engine.execute(f"CREATE OR REPLACE STAGE inf_stg URL='file://{tmp_path}'")
    rows = engine.execute(
        "SELECT COLUMN_NAME, TYPE, ORDER_ID FROM "
        "TABLE(INFER_SCHEMA(LOCATION => '@inf_stg/inf.csv')) ORDER BY ORDER_ID"
    ).to_pylist()
    assert [r["COLUMN_NAME"] for r in rows] == ["id", "name", "price"]
    assert rows[0]["TYPE"].startswith("NUMBER")
    assert rows[1]["TYPE"].startswith("VARCHAR")
    assert rows[2]["TYPE"] in ("FLOAT", "DOUBLE", "NUMBER(38,6)")


def test_create_table_using_template(engine, tmp_path):
    f = tmp_path / "tpl.csv"
    f.write_text("id,label\n1,alpha\n")
    engine.execute(f"CREATE OR REPLACE STAGE tpl_stg URL='file://{tmp_path}'")
    engine.execute(
        "CREATE OR REPLACE TABLE tpl_t USING TEMPLATE ("
        "SELECT ARRAY_AGG(OBJECT_CONSTRUCT(*)) FROM "
        "TABLE(INFER_SCHEMA(LOCATION => '@tpl_stg/tpl.csv')))"
    )
    rows = engine.execute("DESCRIBE TABLE tpl_t").to_pylist()
    names = [r[list(r.keys())[0]] for r in rows]
    assert "id" in names and "label" in names
    engine.execute(
        "COPY INTO tpl_t FROM @tpl_stg/tpl.csv "
        "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)"
    )
    assert engine.execute("SELECT COUNT(*) AS n FROM tpl_t").to_pylist() == [{"n": 1}]
    engine.execute("DROP TABLE tpl_t")


def test_show_stages_file_formats_sequences(engine):
    engine.execute("CREATE OR REPLACE STAGE show_stg")
    engine.execute("CREATE OR REPLACE FILE FORMAT show_ff TYPE = CSV SKIP_HEADER = 1")
    engine.execute("CREATE OR REPLACE SEQUENCE show_seq START = 5 INCREMENT = 2")
    assert any(r["name"] == "SHOW_STG" for r in engine.execute("SHOW STAGES").to_pylist())
    ffs = {r["name"]: r for r in engine.execute("SHOW FILE FORMATS").to_pylist()}
    assert ffs.get("SHOW_FF", {}).get("type") == "CSV"
    seqs = {r["name"]: r for r in engine.execute("SHOW SEQUENCES").to_pylist()}
    assert seqs.get("SHOW_SEQ", {}).get("next_value") == 5


def test_table_flatten_form_and_show_objects(engine):
    out = engine.execute(
        "SELECT f.value::int AS v FROM TABLE(FLATTEN(input => ARRAY_CONSTRUCT(3, 1, 2))) f ORDER BY v"
    ).to_pylist()
    assert [r["v"] for r in out] == [1, 2, 3]
    rows = engine.execute("SHOW TERSE OBJECTS").to_pylist()
    assert any(r["name"] == "ORDERS" for r in rows)
    assert {"name", "kind", "database_name", "schema_name"} <= set(rows[0].keys())
    rows = engine.execute("SHOW OBJECTS LIKE 'ord%'").to_pylist()
    assert {r["name"] for r in rows} == {"ORDERS"}


def test_alter_partition_field_via_engine(engine):
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE pe_eng AS "
        "SELECT n_nationkey AS k, n_regionkey AS r, n_name AS nm FROM nation"
    )
    engine.execute("ALTER TABLE pe_eng ADD PARTITION FIELD r")
    engine.execute(
        "INSERT INTO pe_eng SELECT n_nationkey + 100, n_regionkey, n_name FROM nation"
    )
    out = engine.execute("SELECT COUNT(*) AS n FROM pe_eng WHERE r = 2").to_pylist()[0]
    assert out["n"] == 10  # 5 per copy of nation at sf0.001 (25 rows, 5 regions)
    snap = engine.snap_tables["pe_eng"]
    _v, meta = snap._read_metadata()
    assert meta["default-spec-id"] == 1
    engine.execute("ALTER TABLE pe_eng DROP PARTITION FIELD r")
    _v, meta = snap._read_metadata()
    assert meta["default-spec-id"] == 2
    engine.execute("DROP TABLE pe_eng")


def test_analyze_table_stats(engine):
    """ANALYZE TABLE passes through to Spark's CBO stats collection for a
    catalog table; the catalog then reports sizeInBytes/rowCount for it.
    On an Iceberg table, whose manifests hold the statistics, it is a
    no-op."""
    engine.execute("CREATE OR REPLACE TABLE an.s.an_t AS SELECT * FROM nation")
    engine.execute("ANALYZE TABLE an.s.an_t COMPUTE STATISTICS")
    desc = engine.execute("DESCRIBE EXTENDED an.s.an_t").to_pylist()
    stats = [r for r in desc if "Statistics" in str(r)]
    assert stats, desc[-5:]
    engine.execute("DROP TABLE an.s.an_t")
    engine.execute("CREATE OR REPLACE TABLE an_ice AS SELECT * FROM nation")
    out = engine.execute("ANALYZE TABLE an_ice COMPUTE STATISTICS").to_pylist()
    assert "manifests" in out[0]["status"]
    engine.execute("DROP TABLE an_ice")


def test_describe_result_and_last_query_id_offset(engine):
    engine.execute("SELECT o_orderkey AS k, o_orderpriority AS p FROM orders LIMIT 3")
    qid1 = engine.query_log[-1]["query_id"]
    engine.execute("SELECT 42 AS answer")
    rows = engine.execute("DESCRIBE RESULT LAST_QUERY_ID()").to_pylist()
    assert [r["name"] for r in rows] == ["answer"]
    # every statement (incl. DESCRIBE itself) is retained, so negative
    # offsets shift per statement — exactly Snowflake's LAST_QUERY_ID
    # semantics; address an older result by its explicit id instead
    rows = engine.execute(f"DESCRIBE RESULT '{qid1}'").to_pylist()
    assert [r["name"] for r in rows] == ["k", "p"]
    assert rows[0]["type"].startswith("NUMBER")
    out = engine.execute(
        f"SELECT COUNT(*) AS n FROM TABLE(RESULT_SCAN('{qid1}'))"
    ).to_pylist()
    assert out == [{"n": 3}]
    # the offset form one statement back: the RESULT_SCAN count result
    out = engine.execute(
        "SELECT n FROM TABLE(RESULT_SCAN(LAST_QUERY_ID(-1)))"
    ).to_pylist()
    assert out == [{"n": 3}]


def test_last_query_id_positive_and_mixed_with_result_scan(engine):
    """ADVICE r5 #5: positive LAST_QUERY_ID(n) is 1-based from session
    start, and a bare LAST_QUERY_ID elsewhere in a statement that ALSO
    contains RESULT_SCAN still resolves (the old substring gate skipped
    it)."""
    engine.execute("SELECT 1 AS a")
    # 1-based from the oldest retained record: position len(query_log)
    # addresses the query just run (the log is shared across this module)
    pos = len(engine.query_log)
    expected = engine.query_log[pos - 1]["query_id"]
    out = engine.execute(f"SELECT LAST_QUERY_ID({pos}) AS q").to_pylist()
    assert out == [{"q": expected}]
    # bare LAST_QUERY_ID() next to a RESULT_SCAN in the same statement
    engine.execute("SELECT 7 AS n")
    out = engine.execute(
        "SELECT n, LENGTH(LAST_QUERY_ID()) > 0 AS has_qid "
        "FROM TABLE(RESULT_SCAN(LAST_QUERY_ID(-1)))"
    ).to_pylist()
    assert out == [{"n": 7, "has_qid": True}]
    # out-of-range positive offset -> empty string, like unknown negatives
    out = engine.execute("SELECT LAST_QUERY_ID(99999) AS q").to_pylist()
    assert out == [{"q": ""}]


def test_object_identifier_matrix(engine):
    """The reference's combinatorial identifier matrix, regenerated fresh
    (idea from tests/integration/object_identifiers.py:9-47 — not ported):
    every case variant (lower / UPPER / Capitalized / \"QUOTED\") of every
    name part, at 1-, 2-, and 3-part qualification, resolves to the same
    table. Unquoted Snowflake identifiers are case-insensitive; quoted
    UPPER equals the unquoted forms."""
    from itertools import product

    engine.execute("CREATE OR REPLACE TABLE matrixdb.msch.mtab AS SELECT 7 AS x")

    def variants(name):
        return [name.lower(), name.upper(), name.capitalize(), '"' + name.upper() + '"']

    ok = 0
    for d, s, t in product(variants("matrixdb"), variants("msch"), variants("mtab")):
        out = engine.execute(f"SELECT x FROM {d}.{s}.{t}").to_pylist()
        assert out == [{"x": 7}], (d, s, t)
        ok += 1
    engine.execute("USE DATABASE matrixdb")
    engine.execute("USE SCHEMA msch")
    try:
        for s, t in product(variants("msch"), variants("mtab")):
            assert engine.execute(f"SELECT x FROM {s}.{t}").to_pylist() == [{"x": 7}], (s, t)
            ok += 1
        for t in variants("mtab"):
            assert engine.execute(f"SELECT x FROM {t}").to_pylist() == [{"x": 7}], t
            ok += 1
    finally:
        engine.execute("USE DATABASE default")
    assert ok == 64 + 16 + 4
    engine.execute("DROP TABLE matrixdb.msch.mtab")


def test_tag_objects_and_ddl_modifiers(engine):
    """TAG governance metadata + the client-compat DDL modifiers (SECURE
    VIEW, COPY GRANTS, inline COMMENT = — stripped in the DDL header only,
    a `comment = '...'` predicate inside a CTAS body survives)."""
    engine.execute("CREATE TAG env ALLOWED_VALUES 'dev', 'prod'")
    engine.execute("CREATE OR REPLACE TABLE tagged_t COMMENT = 'c''mon' AS SELECT 1 AS x")
    engine.execute("ALTER TABLE tagged_t SET TAG env = 'prod'")
    out = engine.execute(
        "SELECT SYSTEM$GET_TAG('env', 'tagged_t', 'TABLE') AS v, "
        "SYSTEM$GET_TAG('env', 'orders', 'TABLE') AS missing"
    ).to_pylist()[0]
    assert out["v"] == "prod" and out["missing"] is None
    import pytest as _p
    with _p.raises(Exception):
        engine.execute("ALTER TABLE tagged_t SET TAG env = 'staging'")
    engine.execute("ALTER TABLE tagged_t UNSET TAG env")
    assert engine.execute(
        "SELECT SYSTEM$GET_TAG('env', 'tagged_t', 'TABLE') AS v"
    ).to_pylist()[0]["v"] is None
    rows = engine.execute("SHOW TAGS").to_pylist()
    assert any(r["name"] == "ENV" and "prod" in r["allowed_values"] for r in rows)
    engine.execute(
        "CREATE OR REPLACE SECURE VIEW sv COPY GRANTS COMMENT = 'hidden' AS "
        "SELECT 2 AS y"
    )
    assert engine.execute("SELECT y FROM sv").to_pylist() == [{"y": 2}]
    # a comment = predicate in a CTAS BODY survives the header strip
    engine.execute(
        "CREATE OR REPLACE TABLE cbody AS SELECT * FROM "
        "(SELECT 'keep' AS comment) WHERE comment = 'keep'"
    )
    assert engine.execute("SELECT COUNT(*) AS n FROM cbody").to_pylist() == [{"n": 1}]
    engine.execute("DROP TABLE tagged_t; DROP TABLE cbody; DROP VIEW sv; DROP TAG env")


def test_alter_session_unset(engine):
    engine.execute("ALTER SESSION SET QUERY_TAG = 'tmp_tag'")
    engine.execute("ALTER SESSION UNSET QUERY_TAG")
    rows = {r["key"]: r for r in engine.execute("SHOW PARAMETERS LIKE 'QUERY_TAG'").to_pylist()}
    assert rows.get("QUERY_TAG", {}).get("level", "") == ""


def test_split_to_table(engine):
    out = engine.execute(
        "SELECT t.index AS i, t.value AS v FROM "
        "TABLE(SPLIT_TO_TABLE('a.b.c', '.')) t ORDER BY i"
    ).to_pylist()
    assert out == [{"i": 1, "v": "a"}, {"i": 2, "v": "b"}, {"i": 3, "v": "c"}]
    # lateral form over a column, literal delimiter with regex chars
    out = engine.execute(
        "SELECT n_nationkey AS k, s.value AS part FROM nation, "
        "LATERAL SPLIT_TO_TABLE(n_name, 'I') s "
        "WHERE n_nationkey = 3 ORDER BY s.index"
    ).to_pylist()
    assert len(out) >= 1 and all(r["k"] == 3 for r in out)


def test_special_stage_refs_never_touch_literals(engine):
    out = engine.execute(
        "SELECT 'user@~home' AS a, 'x@%y' AS b, "
        "COUNT(*) AS n FROM orders WHERE o_orderpriority LIKE '%@%' "
        "GROUP BY a, b"
    ).to_pylist()
    assert out == [] or out[0]["a"] == "user@~home"
    out = engine.execute("SELECT 'a@~b' AS s").to_pylist()
    assert out == [{"s": "a@~b"}]


def test_two_part_rewrite_does_not_clobber_aliases(engine):
    """ADVICE r3 #1: a registered table db.s.c plus `SELECT s.c FROM t AS s`
    must NOT rewrite the alias-qualified column s.c, and string literals
    containing 'sch.tbl' text must survive verbatim."""
    engine.execute("CREATE OR REPLACE TABLE advdb.s.c AS SELECT 42 AS x")
    engine.execute("USE DATABASE advdb")
    try:
        engine.execute("CREATE OR REPLACE TEMP VIEW t_alias AS SELECT 7 AS c")
        out = engine.execute("SELECT s.c FROM t_alias AS s").to_pylist()
        assert out == [{"c": 7}]
        lit = engine.execute("SELECT 's.c' AS lit").to_pylist()
        assert lit == [{"lit": "s.c"}]
        # the legitimate 2-part table reference still resolves
        assert engine.execute("SELECT x FROM s.c").to_pylist() == [{"x": 42}]
        # ADVICE r4 #3: comma-separated FROM lists are table-reference
        # position too — 'FROM t, s.c' must resolve
        out = engine.execute(
            "SELECT t2.c AS c, x FROM t_alias AS t2, s.c"
        ).to_pylist()
        assert out == [{"c": 7, "x": 42}]
        # ...but a comma in a SELECT list (alias.column) is untouched
        out = engine.execute(
            "SELECT s.c AS first_c, s.c AS again FROM t_alias AS s"
        ).to_pylist()
        assert out == [{"first_c": 7, "again": 7}]
    finally:
        engine.execute("USE DATABASE default")
        engine.execute("DROP TABLE advdb.s.c")


def test_show_objects_in_mangled_schema(engine):
    """ADVICE r3 #2: SHOW TERSE OBJECTS IN db.sch (dbt's connect-time call)
    must resolve the db__sch Spark database, and an unknown schema returns
    an empty result instead of raising."""
    engine.execute("CREATE OR REPLACE TABLE showdb.ssch.stab AS SELECT 1 AS x")
    try:
        rows = engine.execute("SHOW TERSE OBJECTS IN showdb.ssch").to_pylist()
        assert any(r["name"] == "STAB" for r in rows)
        rows = engine.execute("SHOW TERSE OBJECTS IN SCHEMA showdb.ssch").to_pylist()
        assert any(r["name"] == "STAB" for r in rows)
        assert engine.execute("SHOW TERSE OBJECTS IN nodb.nosch").to_pylist() == []
    finally:
        engine.execute("DROP TABLE showdb.ssch.stab")


def test_show_like_pattern_with_regex_metachars(engine):
    """ADVICE r3 #5: LIKE patterns containing regex metacharacters must not
    raise re.error (they are escaped before wildcard translation)."""
    rows = engine.execute("SHOW PARAMETERS LIKE 'QUERY_TAG(%'").to_pylist()
    assert rows == []
    rows = engine.execute("SHOW OBJECTS LIKE 'ord[%'").to_pylist()
    assert rows == []
    rows = engine.execute("SHOW PARAMETERS LIKE 'TIMEZONE'").to_pylist()
    assert any(r["key"] == "TIMEZONE" for r in rows)


def test_copy_purge_force_and_binary_on_error(engine, tmp_path):
    """ADVICE r3 #4: PURGE deletes loaded files after commit; explicit
    FORCE=FALSE skips files already loaded into the target (process-lifetime
    load history); ON_ERROR=CONTINUE on parquet raises instead of silently
    degrading to ABORT_STATEMENT."""
    import pytest as _pytest

    a = tmp_path / "a.csv"
    a.write_text("1,x\n2,y\n")
    engine.execute("CREATE OR REPLACE TEMP TABLE pft_t (k INT, v STRING)")
    engine.execute(f"CREATE OR REPLACE STAGE pft_stg URL='file://{tmp_path}'")
    # FORCE=FALSE twice: first loads, second skips via load history
    out = engine.execute(
        "COPY INTO pft_t FROM @pft_stg/a.csv FILE_FORMAT=(TYPE=CSV) FORCE=FALSE"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 2 and out["status"] == "LOADED"
    out = engine.execute(
        "COPY INTO pft_t FROM @pft_stg/a.csv FILE_FORMAT=(TYPE=CSV) FORCE=FALSE"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 0 and out["status"] == "LOAD_SKIPPED"
    # unspecified FORCE reloads (reference-parity stateless COPY)
    out = engine.execute(
        "COPY INTO pft_t FROM @pft_stg/a.csv FILE_FORMAT=(TYPE=CSV)"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 2
    # PURGE deletes the staged file after a successful load
    b = tmp_path / "b.csv"
    b.write_text("3,z\n")
    out = engine.execute(
        "COPY INTO pft_t FROM @pft_stg/b.csv FILE_FORMAT=(TYPE=CSV) PURGE=TRUE"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 1
    assert not b.exists()
    assert engine.execute("SELECT COUNT(*) AS n FROM pft_t").to_pylist() == [{"n": 5}]
    # binary formats reject row-granular ON_ERROR instead of ignoring it
    with _pytest.raises(Exception, match="ON_ERROR"):
        engine.execute(
            "COPY INTO pft_t FROM @pft_stg/a.parquet "
            "FILE_FORMAT=(TYPE=PARQUET) ON_ERROR=CONTINUE"
        )
    # ADVICE r4 #4: explicit FORCE=FALSE on a non-enumerable stage path
    # raises instead of silently reloading (mirrors the PURGE guard)
    engine.execute("CREATE OR REPLACE STAGE pft_remote URL='s3://no-such-bucket/pfx'")
    with _pytest.raises(Exception, match="FORCE"):
        engine.execute(
            "COPY INTO pft_t FROM @pft_remote/a.csv FILE_FORMAT=(TYPE=CSV) FORCE=FALSE"
        )


def test_copy_purge_skipped_on_partial_load(engine, tmp_path):
    """ADVICE r4 #5: ON_ERROR=CONTINUE with rejected rows must NOT purge the
    source file (Snowflake purges only fully-loaded files) — the rejected
    records' source survives for repair. Load history still records the file
    so FORCE=FALSE does not duplicate the good rows."""
    c = tmp_path / "c.csv"
    c.write_text("1,x\nnot_an_int,y\n3,z\n")
    engine.execute("CREATE OR REPLACE TEMP TABLE ppl_t (k INT, v STRING)")
    engine.execute(f"CREATE OR REPLACE STAGE ppl_stg URL='file://{tmp_path}'")
    out = engine.execute(
        "COPY INTO ppl_t FROM @ppl_stg/c.csv FILE_FORMAT=(TYPE=CSV) "
        "ON_ERROR=CONTINUE PURGE=TRUE"
    ).to_pylist()[0]
    assert out["status"] == "PARTIALLY_LOADED" and out["rows_loaded"] == 2
    assert c.exists()  # NOT purged
    # history recorded: FORCE=FALSE skips it
    out = engine.execute(
        "COPY INTO ppl_t FROM @ppl_stg/c.csv FILE_FORMAT=(TYPE=CSV) FORCE=FALSE"
    ).to_pylist()[0]
    assert out["status"] == "LOAD_SKIPPED"
    # a clean file alongside still purges
    d = tmp_path / "d.csv"
    d.write_text("4,w\n")
    out = engine.execute(
        "COPY INTO ppl_t FROM @ppl_stg/d.csv FILE_FORMAT=(TYPE=CSV) "
        "ON_ERROR=CONTINUE PURGE=TRUE"
    ).to_pylist()[0]
    assert out["status"] == "LOADED" and not d.exists()


def test_s3_stage_per_bucket_conf_end_to_end(engine):
    """VERDICT r3 'Next round' #8: the s3 stage path beyond regex units.
    CREATE STAGE over two different buckets with different credentials must
    land BOTH credential sets in the LIVE hadoop configuration under
    per-bucket keys (fs.s3a.bucket.<b>.*) — the configuration shape that
    lets one cluster read two buckets with two key pairs — and the stage
    registry must carry the normalized s3a URL that a COPY INTO would hand
    to spark.read. (No hadoop-aws jar ships in this container, so the
    actual GET is not executable here; the conf injection + URL resolution
    IS the engine's entire s3 surface — the S3A connector owns the rest.)"""
    engine.execute(
        "CREATE OR REPLACE STAGE s3a_one URL='s3://bucket-one/data/' "
        "CREDENTIALS=(AWS_KEY_ID='AKONE' AWS_SECRET_KEY='SECONE' AWS_TOKEN='TOKONE')"
    )
    engine.execute(
        "CREATE OR REPLACE STAGE s3a_two URL='s3://bucket-two/raw' "
        "CREDENTIALS=(AWS_KEY_ID='AKTWO' AWS_SECRET_KEY='SECTWO')"
    )
    hconf = engine.spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.bucket.bucket-one.access.key") == "AKONE"
    assert hconf.get("fs.s3a.bucket.bucket-one.secret.key") == "SECONE"
    assert hconf.get("fs.s3a.bucket.bucket-one.session.token") == "TOKONE"
    assert hconf.get("fs.s3a.bucket.bucket-two.access.key") == "AKTWO"
    assert hconf.get("fs.s3a.bucket.bucket-two.secret.key") == "SECTWO"
    # normalized scheme recorded for the read path
    assert engine.stages["s3a_one"] == "s3a://bucket-one/data"
    assert engine.stages["s3a_two"] == "s3a://bucket-two/raw"
    # DESCRIBE STAGE masks the secret, shows the key id + original URL
    meta = engine.execute("DESCRIBE STAGE s3a_one").to_pylist()
    vals = {r.get("property", r.get("key", "")): r for r in meta}
    flat = str(meta)
    assert "AKONE" in flat and "SECONE" not in flat
    # a COPY INTO against the s3 stage resolves to the s3a URL before the
    # reader runs (captured via the read seam; the read itself needs the
    # S3A connector jars)
    import universql_spark.copy_into as ci

    captured = {}
    orig = ci.read_stage

    def capture(spark, path, fmt, options):
        captured["path"] = path
        raise RuntimeError("stop-before-s3a")

    ci.read_stage = capture
    try:
        engine.execute("CREATE OR REPLACE TEMP TABLE s3t (a INT, b STRING)")
        try:
            engine.execute(
                "COPY INTO s3t FROM @s3a_one/part.csv FILE_FORMAT=(TYPE=CSV)"
            )
        except Exception:
            pass
        assert captured["path"] == "s3a://bucket-one/data/part.csv"
    finally:
        ci.read_stage = orig


def test_to_char_numeric_rounding_carry(engine):
    """ADVICE r4 #2: the zero-pad-with-decimals branch must round FIRST and
    split one consistent value — TO_CHAR(3.999,'0000.00') is '0004.00'."""
    out = engine.execute(
        "SELECT TO_CHAR(3.999, '0000.00') AS a, TO_CHAR(-3.999, '0000.00') AS b, "
        "TO_CHAR(9.995, '00.00') AS c, TO_CHAR(1234.5, '999,999.99') AS d"
    ).to_pylist()[0]
    assert out["a"] == "0004.00"
    assert out["b"] == "-0004.00"
    assert out["c"] == "10.00"
    assert out["d"] == "1,234.50"


def test_jaro_winkler_boost_gated(engine):
    """ADVICE r4 #1: the Winkler prefix boost only applies when the Jaro
    base exceeds 0.7 (matches DuckDB's jaro_winkler_similarity)."""
    import duckdb

    pairs = [
        ("abcdxxxxxx", "abcdyyyyyy"),  # common prefix, low Jaro: no boost
        ("prefabricate", "prezzz"),
        ("martha", "marhta"),  # high Jaro: boosted
        ("dixon", "dicksonx"),
    ]
    con = duckdb.connect()
    for a, b in pairs:
        got = engine.execute(
            f"SELECT JAROWINKLER_SIMILARITY('{a}', '{b}') AS jw"
        ).to_pylist()[0]["jw"]
        want = con.execute(
            "SELECT CAST(floor(jaro_winkler_similarity(lower(?), lower(?)) * 100) AS INT)",
            [a, b],
        ).fetchone()[0]
        assert got == want, (a, b, got, want)


def test_external_volume_and_iceberg_base_location(engine, spark, tmp_path):
    """Snowflake EXTERNAL VOLUME surface (reference snowflake.py:113-135 +
    duckdb.py:283-292): CREATE EXTERNAL VOLUME records the lake path, DESC
    EXTERNAL VOLUME serves the exact row shape get_volume_lake_path parses,
    and CREATE ICEBERG TABLE ... EXTERNAL_VOLUME/BASE_LOCATION lands the
    table at <volume>/<base_location>."""
    import json as _json
    import os as _os

    import pytest as _pytest

    engine.execute(
        "CREATE OR REPLACE EXTERNAL VOLUME exvol STORAGE_LOCATIONS = "
        f"((NAME='l1' STORAGE_PROVIDER='LOCAL' STORAGE_BASE_URL='file://{tmp_path}'))"
    )
    rows = engine.execute("DESC EXTERNAL VOLUME exvol").to_pylist()
    # the reference's parsing contract: ACTIVE row names the location, the
    # STORAGE_LOCATION_* row's value is JSON holding STORAGE_BASE_URL
    active = next(
        r["property_value"] for r in rows
        if r["parent_property"] == "STORAGE_LOCATIONS" and r["property"] == "ACTIVE"
    )
    base = next(
        _json.loads(r["property_value"])["STORAGE_BASE_URL"] for r in rows
        if r["property"].startswith("STORAGE_LOCATION_")
        and _json.loads(r["property_value"])["NAME"] == active
    )
    assert base == f"file://{tmp_path}"
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE vol_t EXTERNAL_VOLUME='exvol' "
        "BASE_LOCATION='lake/vol_t' AS SELECT 1 AS a, 'x' AS b"
    )
    assert _os.path.exists(str(tmp_path / "lake" / "vol_t" / "metadata"))
    assert engine.execute("SELECT a, b FROM vol_t").to_pylist() == [{"a": 1, "b": "x"}]
    # property order flexibility + PARTITION BY coexistence
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE vol_t2 EXTERNAL_VOLUME='exvol' "
        "PARTITION BY (b) BASE_LOCATION='lake/vol_t2' AS SELECT 2 AS a, 'y' AS b"
    )
    assert engine.execute("SELECT a FROM vol_t2").to_pylist() == [{"a": 2}]
    # BASE_LOCATION without a volume is refused (it is volume-relative)
    with _pytest.raises(Exception, match="EXTERNAL_VOLUME"):
        engine.execute(
            "CREATE ICEBERG TABLE vol_t3 BASE_LOCATION='x' AS SELECT 1 AS a"
        )
    # unknown volume is refused before any data lands
    with _pytest.raises(Exception, match="does not exist"):
        engine.execute(
            "CREATE ICEBERG TABLE vol_t4 EXTERNAL_VOLUME='nope' AS SELECT 1 AS a"
        )
    # a volume location that already holds files is the user's, not an
    # orphan to reclaim: a CREATE without OR REPLACE fails and leaves them
    kept = tmp_path / "lake" / "fv_t" / "data.csv"
    kept.parent.mkdir(parents=True)
    kept.write_text("1,a\n")
    for create in ("CREATE ICEBERG TABLE", "CREATE TABLE"):
        with _pytest.raises(QueryError, match="already exists"):
            engine.execute(
                f"{create} fv_t EXTERNAL_VOLUME='exvol' BASE_LOCATION='lake/fv_t' AS SELECT 1 AS a"
            )
        assert kept.read_text() == "1,a\n"
    assert "fv_t" not in engine.snap_tables


def test_bare_table_of_another_database(engine):
    """Under USE of another database a bare CREATE makes that database's
    table, and it, not the same-named `default` table, takes the bare name's
    reads and writes until `default` is current again."""
    engine.execute("USE DATABASE default; CREATE OR REPLACE TABLE btd_t AS SELECT 'default' AS w")
    engine.execute("CREATE DATABASE IF NOT EXISTS btd_db; USE DATABASE btd_db")
    try:
        engine.execute("CREATE OR REPLACE TABLE btd_t AS SELECT 'btd' AS w")
        engine.execute("INSERT INTO btd_t SELECT 'more'")
        engine.execute("DELETE FROM btd_t WHERE w = 'btd'")
        assert engine.execute("SELECT w FROM btd_t").to_pylist() == [{"w": "more"}]
    finally:
        engine.execute("USE DATABASE default")
    assert engine.execute("SELECT w FROM btd_t").to_pylist() == [{"w": "default"}]
    assert engine.execute("SELECT w FROM btd_db.btd_t").to_pylist() == [{"w": "more"}]
    engine.execute("DROP TABLE btd_t; DROP TABLE btd_db.btd_t; DROP DATABASE btd_db")


def test_engines_sharing_a_spark_session_keep_their_databases(spark):
    """Spark's current database belongs to the SparkSession, which several
    Engines may share: after one Engine's USE DATABASE, a bare CREATE from
    another still lands in that Engine's own database, and back."""
    a, b = Engine(spark=spark), Engine(spark=spark)
    ivl = "AS SELECT id, INTERVAL '1' DAY AS i FROM range(0, 3, 1, 1) AS r(id)"  # a catalog table
    a.execute("CREATE DATABASE IF NOT EXISTS esd_db; USE DATABASE esd_db")
    try:
        b.execute(f"CREATE OR REPLACE TABLE esd_b {ivl}")
        a.execute(f"CREATE OR REPLACE TABLE esd_a {ivl}")
        assert spark.catalog.tableExists("default.esd_b")
        assert not spark.catalog.tableExists("esd_db.esd_b")
        assert spark.catalog.tableExists("esd_db.esd_a")
    finally:
        a.execute("USE DATABASE default")
    b.execute("DROP TABLE IF EXISTS esd_b")
    a.execute("DROP TABLE IF EXISTS esd_db.esd_a; DROP DATABASE esd_db")


def test_r5_scalar_surface(engine):
    """Round-5 probe-driven surface: DIFFERENCE, SEQ*, the MINHASH sketch
    family, COLLATE (Spark 4 native collations), STRTOK_SPLIT_TO_TABLE."""
    out = engine.execute(
        "SELECT DIFFERENCE('Robert','Rupert') AS a, DIFFERENCE('abc','xyz') AS b"
    ).to_pylist()[0]
    assert out == {"a": 4, "b": 1}  # R163=R163 -> 4; A120 vs X200 -> 1
    rows = engine.execute(
        "SELECT t.index, t.value FROM TABLE(STRTOK_SPLIT_TO_TABLE('a b;c', ' ;')) t"
    ).to_pylist()
    assert rows == [
        {"index": 1, "value": "a"}, {"index": 2, "value": "b"}, {"index": 3, "value": "c"},
    ]
    out = engine.execute(
        "SELECT COUNT(DISTINCT s) AS n FROM (SELECT SEQ8() AS s FROM (VALUES (1),(2),(3)) v)"
    ).to_pylist()[0]
    assert out["n"] == 3  # unique per row
    assert engine.execute("SELECT SEQ1() < 256 AS x").to_pylist() == [{"x": True}]
    # minhash estimator: identical corpora -> 1.0; disjoint -> 0.0 at k=16
    out = engine.execute(
        "SELECT APPROXIMATE_JACCARD_INDEX(mh) AS s FROM ("
        "SELECT MINHASH(8, c1) AS mh FROM (VALUES ('a'),('b')) t(c1) "
        "UNION ALL SELECT MINHASH(8, c1) FROM (VALUES ('a'),('b')) t(c1))"
    ).to_pylist()[0]
    assert out["s"] == 1.0
    out = engine.execute(
        "SELECT APPROXIMATE_SIMILARITY(mh) AS s FROM ("
        "SELECT MINHASH(16, c1) AS mh FROM (VALUES ('a'),('b')) t(c1) "
        "UNION ALL SELECT MINHASH(16, c1) FROM (VALUES ('x'),('y')) t(c1))"
    ).to_pylist()[0]
    assert out["s"] == 0.0
    # sketch union == sketch of the union (elementwise-min property)
    out = engine.execute(
        "SELECT MINHASH_COMBINE(mh) = (SELECT MINHASH(4, c1) FROM "
        "(VALUES ('a'),('b'),('x')) t(c1)) AS eq FROM ("
        "SELECT MINHASH(4, c1) AS mh FROM (VALUES ('a'),('b')) t(c1) "
        "UNION ALL SELECT MINHASH(4, c1) FROM (VALUES ('x')) t(c1))"
    ).to_pylist()[0]
    assert out["eq"] is True
    # collations: Snowflake specs map onto Spark 4's native framework
    assert engine.execute("SELECT 'A' = 'a' COLLATE 'en-ci' AS x").to_pylist() == [{"x": True}]
    assert engine.execute("SELECT COLLATE('A', 'en-ci') = 'a' AS x").to_pylist() == [{"x": True}]
    assert engine.execute("SELECT 'ABC' = 'abc' COLLATE 'lower' AS x").to_pylist() == [{"x": True}]
    assert engine.execute("SELECT 'A' = 'a' COLLATE 'utf8' AS x").to_pylist() == [{"x": False}]


def test_minhash_estimator_accuracy(engine, spark, sf_dir):
    """The SQL-level MINHASH estimator approximates true Jaccard on a real
    overlap: nation names vs the first 20 of them (true J = 20/25 = 0.8);
    k=64 keeps the estimator within +/-0.25 of truth."""
    sim = engine.execute(
        "SELECT APPROXIMATE_JACCARD_INDEX(mh) AS s FROM ("
        "SELECT MINHASH(64, n_name) AS mh FROM nation "
        "UNION ALL SELECT MINHASH(64, n_name) FROM nation WHERE n_nationkey < 20)"
    ).to_pylist()[0]["s"]
    assert 0.55 <= sim <= 1.0, sim


def test_session_constant_functions(engine):
    """Connect-time session-context surface: CURRENT_CLIENT/REGION/ACCOUNT,
    SYSTEM$TYPEOF, IS_ROLE_IN_SESSION (single-active-role semantics)."""
    out = engine.execute(
        "SELECT CURRENT_VERSION() AS v, CURRENT_CLIENT() AS c, "
        "CURRENT_REGION() AS r, CURRENT_ACCOUNT() AS a"
    ).to_pylist()[0]
    assert out["v"] and out["c"] and out["r"] == "LOCAL" and out["a"]
    out = engine.execute("SELECT SYSTEM$TYPEOF(1) AS t, SYSTEM$TYPEOF('x') AS s").to_pylist()[0]
    assert out["t"] == "int" and out["s"] == "string"
    assert engine.execute("SELECT IS_ROLE_IN_SESSION('ACCOUNTADMIN') AS x").to_pylist() == [{"x": True}]
    assert engine.execute("SELECT IS_ROLE_IN_SESSION('NOPE') AS x").to_pylist() == [{"x": False}]
    engine.execute("USE ROLE ANALYST")
    try:
        assert engine.execute("SELECT IS_ROLE_IN_SESSION('analyst') AS x").to_pylist() == [{"x": True}]
    finally:
        engine.execute("USE ROLE ACCOUNTADMIN")


def test_roles_show_columns_describe_view(engine):
    """Round-5 client-surface gaps: CREATE/DROP ROLE + SHOW ROLES (recorded,
    not enforced — reference parity), SHOW COLUMNS IN TABLE, DESCRIBE VIEW."""
    engine.execute("CREATE ROLE IF NOT EXISTS r5role")
    rows = engine.execute("SHOW ROLES").to_pylist()
    names = {r["name"] for r in rows}
    assert "R5ROLE" in names and "ACCOUNTADMIN" in names
    assert any(r["is_current"] == "Y" for r in rows)
    assert engine.execute("SHOW ROLES LIKE 'r5%'").to_pylist() == [
        {"name": "R5ROLE", "is_current": "N"}
    ]
    engine.execute("DROP ROLE r5role")
    assert not engine.execute("SHOW ROLES LIKE 'r5%'").to_pylist()
    cols = engine.execute("SHOW COLUMNS IN TABLE region").to_pylist()
    assert {"R_REGIONKEY", "R_NAME"} <= {c["column_name"] for c in cols}
    assert all(c["table_name"] == "REGION" for c in cols)
    engine.execute("CREATE OR REPLACE TEMP VIEW dv_r5 AS SELECT 1 AS x, 'a' AS y")
    dv = engine.execute("DESCRIBE VIEW dv_r5").to_pylist()
    assert [d["name"] for d in dv] == ["x", "y"]


def test_regexp_occurrence_forms(engine):
    """r5: occurrence-aware REGEXP_REPLACE / REGEXP_SUBSTR long forms."""
    rows = engine.execute(
        "SELECT REGEXP_REPLACE('aaa', 'a', 'b', 1, 2) AS a, "
        "REGEXP_REPLACE('a1b2c3', '[0-9]', '#', 1, 3) AS b, "
        "REGEXP_REPLACE('abc', 'z', '#', 1, 2) AS c, "
        "REGEXP_REPLACE('aaa', 'a', 'b', 2, 0) AS d, "
        "REGEXP_REPLACE('AaA', 'a', '#', 1, 2, 'i') AS e, "
        "REGEXP_SUBSTR('a1b22c3', '[0-9]+', 1, 2) AS f, "
        "REGEXP_SUBSTR('a1', '[0-9]', 1, 5) AS g, "
        "REGEXP_SUBSTR('abc123', '([a-z]+)([0-9]+)', 1, 1, 'e') AS h, "
        "REGEXP_SUBSTR('abc123', '([a-z]+)([0-9]+)', 1, 1, 'e', 2) AS i"
    ).to_pylist()[0]
    assert rows == {
        "a": "aba", "b": "a1b2c#", "c": "abc", "d": "abb", "e": "A#A",
        "f": "22", "g": None, "h": "abc", "i": "123",
    }
    out = engine.execute(
        "SELECT TO_JSON(OBJECT_CONSTRUCT(*)) AS o FROM (SELECT 1 AS a, 'x' AS b)"
    ).to_pylist()[0]
    assert out["o"] == '{"a":1,"b":"x"}'
    out = engine.execute(
        "SELECT VARIANCE_POP(x) AS v FROM (VALUES (1),(2),(3)) t(x)"
    ).to_pylist()[0]
    assert abs(out["v"] - 2.0 / 3.0) < 1e-12


def test_table_lifecycle_like_swap_mv_constraints(engine):
    """r5 lifecycle surface: CREATE TABLE LIKE, ALTER TABLE SWAP WITH,
    MATERIALIZED VIEW (dynamic-table machinery at zero lag), recorded key
    constraints + SHOW PRIMARY/UNIQUE KEYS, 3-arg MIN_BY/MAX_BY."""
    engine.execute("CREATE OR REPLACE TEMP TABLE swp_a AS SELECT 1 AS x")
    engine.execute("CREATE OR REPLACE TEMP TABLE swp_b AS SELECT 2 AS x")
    engine.execute("ALTER TABLE swp_a SWAP WITH swp_b")
    out = engine.execute(
        "SELECT (SELECT x FROM swp_a) AS a, (SELECT x FROM swp_b) AS b"
    ).to_pylist()[0]
    assert out == {"a": 2, "b": 1}
    engine.execute("CREATE OR REPLACE TABLE lk_t LIKE region")
    assert engine.execute("SELECT COUNT(*) AS n FROM lk_t").to_pylist() == [{"n": 0}]
    cols = {c["column_name"] for c in engine.execute("SHOW COLUMNS IN TABLE lk_t").to_pylist()}
    assert "R_REGIONKEY" in cols
    engine.execute("DROP TABLE lk_t")
    # MV: fresh reads after base-table change (zero-lag dynamic refresh)
    engine.execute("CREATE OR REPLACE TEMP TABLE mv_base AS SELECT 1 AS x")
    engine.execute("CREATE OR REPLACE MATERIALIZED VIEW mv_t AS SELECT SUM(x) AS s FROM mv_base")
    assert engine.execute("SELECT s FROM mv_t").to_pylist() == [{"s": 1}]
    engine.execute("DROP MATERIALIZED VIEW mv_t")
    # constraints recorded, not enforced
    engine.execute(
        "CREATE OR REPLACE TEMP TABLE con_t (a INT PRIMARY KEY, b STRING UNIQUE, "
        "c INT REFERENCES region(r_regionkey))"
    )
    pk = engine.execute("SHOW PRIMARY KEYS IN TABLE con_t").to_pylist()
    assert pk == [{"table_name": "CON_T", "column_name": "A", "key_sequence": 1}]
    uq = engine.execute("SHOW UNIQUE KEYS IN TABLE con_t").to_pylist()
    assert uq == [{"table_name": "CON_T", "column_name": "B", "key_sequence": 1}]
    engine.execute("INSERT INTO con_t SELECT 1, 'x', 0")
    engine.execute("INSERT INTO con_t SELECT 1, 'x', 0")  # dup allowed: unenforced
    assert engine.execute("SELECT COUNT(*) AS n FROM con_t").to_pylist() == [{"n": 2}]
    # composite table-level constraints
    engine.execute("CREATE OR REPLACE TEMP TABLE con_t2 (a INT, b INT, PRIMARY KEY (a, b))")
    pk2 = engine.execute("SHOW PRIMARY KEYS IN TABLE con_t2").to_pylist()
    assert [(r["column_name"], r["key_sequence"]) for r in pk2] == [("A", 1), ("B", 2)]
    out = engine.execute(
        "SELECT TO_JSON(MIN_BY(x, y, 2)) AS lo, TO_JSON(MAX_BY(x, y, 2)) AS hi "
        "FROM (VALUES (1, 9),(2, 8),(3, 7)) t(x, y)"
    ).to_pylist()[0]
    assert out == {"lo": "[3,2]", "hi": "[1,2]"}


def test_scripting_loops_case_exception_cursors(engine):
    """r5 Snowflake Scripting completion: WHILE/REPEAT/LOOP with
    BREAK/CONTINUE, statement CASE (simple + searched), EXCEPTION handlers
    with SQLERRM, cursors (FOR-over-cursor, OPEN/FETCH/CLOSE, subquery FOR),
    RESULTSET + RETURN TABLE."""
    run = lambda q: engine.execute(q).to_pylist()  # noqa: E731
    assert run(
        "BEGIN LET i := 0; LET t := 0; WHILE (i < 5) DO t := t + i; i := i + 1; "
        "END WHILE; RETURN t; END"
    ) == [{"RETURN_VALUE": "10"}]
    assert run(
        "BEGIN LET i := 0; REPEAT i := i + 1; UNTIL (i >= 3) END REPEAT; RETURN i; END"
    ) == [{"RETURN_VALUE": "3"}]
    assert run(
        "BEGIN LET i := 0; LOOP i := i + 1; IF (i >= 4) THEN BREAK; END IF; "
        "END LOOP; RETURN i; END"
    ) == [{"RETURN_VALUE": "4"}]
    assert run(
        "BEGIN LET i := 0; LET s := 0; WHILE (i < 5) DO i := i + 1; "
        "IF (i = 3) THEN CONTINUE; END IF; s := s + i; END WHILE; RETURN s; END"
    ) == [{"RETURN_VALUE": "12"}]
    assert run(
        "BEGIN LET x := 2; CASE (x) WHEN 1 THEN RETURN 'one'; WHEN 2 THEN "
        "RETURN 'two'; ELSE RETURN 'many'; END CASE; END"
    ) == [{"RETURN_VALUE": "two"}]
    assert run(
        "BEGIN LET x := 7; CASE WHEN (x < 5) THEN RETURN 'small'; WHEN (x < 10) "
        "THEN RETURN 'mid'; ELSE RETURN 'big'; END; END"
    ) == [{"RETURN_VALUE": "mid"}]
    out = run(
        "BEGIN SELECT 1/0; RETURN 'no'; EXCEPTION WHEN OTHER THEN "
        "RETURN 'caught'; END"
    )
    assert out == [{"RETURN_VALUE": "caught"}]
    out = run(
        "BEGIN SELECT * FROM no_such_tbl; RETURN 'no'; EXCEPTION WHEN "
        "STATEMENT_ERROR THEN RETURN :sqlerrm; END"
    )
    assert "no_such_tbl" in out[0]["RETURN_VALUE"] or "TABLE_OR_VIEW" in out[0]["RETURN_VALUE"]
    assert run(
        "BEGIN LET t := 0; LET c1 CURSOR FOR SELECT r_regionkey FROM region; "
        "FOR rec IN c1 DO t := t + rec.r_regionkey; END FOR; RETURN t; END"
    ) == [{"RETURN_VALUE": "10"}]
    assert run(
        "BEGIN LET n := 0; FOR r IN (SELECT r_regionkey AS k FROM region) DO "
        "n := n + 1; END FOR; RETURN n; END"
    ) == [{"RETURN_VALUE": "5"}]
    assert run(
        "BEGIN LET c2 CURSOR FOR SELECT r_regionkey FROM region ORDER BY "
        "r_regionkey; OPEN c2; LET a := 0; FETCH c2 INTO a; FETCH c2 INTO a; "
        "CLOSE c2; RETURN a; END"
    ) == [{"RETURN_VALUE": "1"}]
    assert run(
        "DECLARE res RESULTSET; BEGIN res := (SELECT COUNT(*) AS n FROM region); "
        "RETURN TABLE(res); END"
    ) == [{"n": 5}]
    # nested range loops
    assert run(
        "BEGIN LET s := 0; FOR i IN 1 TO 3 DO FOR j IN 1 TO 2 DO s := s + i * j; "
        "END FOR; END FOR; RETURN s; END"
    ) == [{"RETURN_VALUE": "18"}]


def test_scripting_nested_exception_and_handler_routing(engine):
    """ADVICE r5 #1/#2: a nested block's EXCEPTION section belongs to that
    block (outer statements after it still run), and handlers route by
    error class — STATEMENT_ERROR for QueryError, EXPRESSION_ERROR for eval
    failures, OTHER as the fallback; no match re-raises."""
    run = lambda q: engine.execute(q).to_pylist()  # noqa: E731
    # nested block with its own EXCEPTION; outer continues past it
    assert run(
        "BEGIN LET t := 0; BEGIN SELECT * FROM no_such_tbl; "
        "EXCEPTION WHEN OTHER THEN t := 1; END; t := t + 10; RETURN t; END"
    ) == [{"RETURN_VALUE": "11"}]
    # statement error skips a leading EXPRESSION_ERROR handler
    assert run(
        "BEGIN SELECT * FROM no_such_tbl; RETURN 'no'; "
        "EXCEPTION WHEN EXPRESSION_ERROR THEN RETURN 'expr'; "
        "WHEN STATEMENT_ERROR THEN RETURN 'stmt'; END"
    ) == [{"RETURN_VALUE": "stmt"}]
    # OTHER catches what named conditions don't
    assert run(
        "BEGIN SELECT * FROM no_such_tbl; RETURN 'no'; "
        "EXCEPTION WHEN EXPRESSION_ERROR THEN RETURN 'expr'; "
        "WHEN OTHER THEN RETURN 'other'; END"
    ) == [{"RETURN_VALUE": "other"}]
    # declared-condition-only handlers with no match re-raise
    import pytest as _pytest

    with _pytest.raises(Exception):
        run(
            "BEGIN SELECT * FROM no_such_tbl; "
            "EXCEPTION WHEN EXPRESSION_ERROR THEN RETURN 'expr'; END"
        )


def test_call_procedure_plain_body(engine):
    """CALL with a plain single-statement body (no BEGIN/END): runs with
    :arg binds substituted; a scalar SELECT becomes the return value."""
    engine.execute(
        "CREATE OR REPLACE PROCEDURE p_cnt(k INT) RETURNS NUMBER AS "
        "$$ SELECT COUNT(*) FROM region WHERE r_regionkey < :k $$"
    )
    assert engine.execute("CALL p_cnt(3)").to_pylist() == [{"P_CNT": "3"}]


def test_info_schema_engine_state_surfaces(engine, tmp_path):
    """r5: engine-state information_schema views — QUERY_HISTORY() table
    function, LOAD_HISTORY from COPY bookkeeping, TABLE_STORAGE_METRICS
    from snapshot-table files, FUNCTIONS from created UDFs/UDTFs."""
    engine.execute("SELECT 42 AS qh_marker")
    rows = engine.execute(
        "SELECT query_text FROM TABLE(INFORMATION_SCHEMA.QUERY_HISTORY())"
    ).to_pylist()
    assert any("qh_marker" in r["query_text"] for r in rows)
    # COPY -> LOAD_HISTORY
    f = tmp_path / "lh.csv"
    f.write_text("1,x\n")
    engine.execute("CREATE OR REPLACE TEMP TABLE lh_t (k INT, v STRING)")
    engine.execute(f"CREATE OR REPLACE STAGE lh_stg URL='file://{tmp_path}'")
    engine.execute("COPY INTO lh_t FROM @lh_stg/lh.csv FILE_FORMAT=(TYPE=CSV) FORCE=FALSE")
    lh = engine.execute(
        "SELECT table_name, status FROM INFORMATION_SCHEMA.LOAD_HISTORY "
        "WHERE file_name LIKE '%lh.csv'"
    ).to_pylist()
    assert lh and lh[0]["status"] == "LOADED"
    # snapshot-table storage metrics
    engine.execute("CREATE OR REPLACE ICEBERG TABLE ism_t AS SELECT 1 AS x")
    sm = engine.execute(
        "SELECT active_bytes, file_count FROM INFORMATION_SCHEMA.TABLE_STORAGE_METRICS "
        "WHERE table_name = 'ISM_T'"
    ).to_pylist()
    assert sm and sm[0]["active_bytes"] > 0 and sm[0]["file_count"] >= 1
    engine.execute("DROP TABLE ism_t")
    # created functions listed
    engine.execute("CREATE OR REPLACE FUNCTION ism_fn(x INT) RETURNS INT AS $$ x + 1 $$")
    fns = engine.execute(
        "SELECT function_name, function_language FROM INFORMATION_SCHEMA.FUNCTIONS"
    ).to_pylist()
    assert {"function_name": "ISM_FN", "function_language": "SQL"} in fns


def test_variant_predicates_and_casts(engine):
    """r5: IS_*/AS_* VARIANT family over the JSON-text representation,
    STRIP_NULL_VALUE, JSON_EXTRACT_PATH_TEXT."""
    out = engine.execute(
        "SELECT IS_NULL_VALUE(PARSE_JSON('null')) AS a, "
        "IS_NULL_VALUE(PARSE_JSON('1')) AS b, "
        "IS_INTEGER(PARSE_JSON('7')) AS c, IS_VARCHAR(PARSE_JSON('\"s\"')) AS d, "
        "IS_ARRAY(PARSE_JSON('[1]')) AS e, IS_OBJECT(PARSE_JSON('{}')) AS f, "
        "IS_BOOLEAN(PARSE_JSON('true')) AS g, IS_DOUBLE(PARSE_JSON('1.5e3')) AS h"
    ).to_pylist()[0]
    assert out == {"a": True, "b": False, "c": True, "d": True, "e": True,
                   "f": True, "g": True, "h": True}
    out = engine.execute(
        "SELECT AS_INTEGER(PARSE_JSON('7')) AS i, AS_VARCHAR(PARSE_JSON('\"s\"')) AS s, "
        "AS_DOUBLE(PARSE_JSON('1.5')) AS d, AS_INTEGER(PARSE_JSON('\"x\"')) AS miss, "
        "AS_BOOLEAN(PARSE_JSON('false')) AS b, "
        "STRIP_NULL_VALUE(PARSE_JSON('null')) AS sn, "
        "JSON_EXTRACT_PATH_TEXT('{\"a\":{\"b\":2}}', 'a.b') AS jp"
    ).to_pylist()[0]
    assert out == {"i": 7, "s": "s", "d": 1.5, "miss": None, "b": False,
                   "sn": None, "jp": "2"}


def test_copy_named_and_stage_default_formats(engine, tmp_path):
    """r5: FILE_FORMAT=(FORMAT_NAME='x') resolves the CREATE FILE FORMAT
    registry; a stage's FILE_FORMAT= default applies when COPY has no
    format clause (Snowflake's resolution order); DESC FILE FORMAT."""
    import pytest as _pytest

    (tmp_path / "p.csv").write_text("1|x\n2|y\n")
    engine.execute("CREATE OR REPLACE FILE FORMAT t_psv TYPE = CSV FIELD_DELIMITER = '|'")
    engine.execute(f"CREATE OR REPLACE STAGE t_ffstg URL='file://{tmp_path}' FILE_FORMAT = t_psv")
    engine.execute("CREATE OR REPLACE TEMP TABLE t_ff (a INT, b STRING)")
    out = engine.execute(
        "COPY INTO t_ff FROM @t_ffstg/p.csv FILE_FORMAT=(FORMAT_NAME='t_psv')"
    ).to_pylist()[0]
    assert out["rows_loaded"] == 2
    out = engine.execute("COPY INTO t_ff FROM @t_ffstg/p.csv").to_pylist()[0]
    assert out["rows_loaded"] == 2  # stage default applied
    assert engine.execute("SELECT COUNT(*) AS n FROM t_ff").to_pylist() == [{"n": 4}]
    d = engine.execute("DESCRIBE FILE FORMAT t_psv").to_pylist()
    assert {"property": "TYPE", "property_value": "CSV"} in d
    assert {"property": "sep", "property_value": "|"} in d
    with _pytest.raises(Exception, match="unknown file format"):
        engine.execute("COPY INTO t_ff FROM @t_ffstg/p.csv FILE_FORMAT=(FORMAT_NAME='nope')")


def test_conversion_long_forms(engine):
    """r5: TO_NUMBER/TO_DECIMAL precision/scale + format forms, TRY_TO_*
    with formats, TO_TIME, 2-arg INITCAP, TO_VARIANT/TO_OBJECT."""
    out = engine.execute(
        "SELECT TO_NUMBER('123.45', 10, 2) AS a, "
        "TO_NUMBER('1,234.50', '999,999.99') AS b, "
        "TO_DECIMAL('12.5', 10, 1) AS c, TRY_TO_NUMBER('bad', 10, 2) AS d"
    ).to_pylist()[0]
    assert str(out["a"]) == "123.45" and str(out["b"]) == "1234.50"
    assert str(out["c"]) == "12.5" and out["d"] is None
    out = engine.execute(
        "SELECT TRY_TO_TIMESTAMP('bad', 'DD/MM/YYYY') AS a, "
        "CAST(TRY_TO_TIMESTAMP('05/03/2024', 'DD/MM/YYYY') AS DATE) AS b, "
        "TO_TIME('13:45:30') AS c, INITCAP('a-b c', '-') AS d, "
        "TO_VARIANT('s') AS e, TO_OBJECT(PARSE_JSON('[1]')) AS f"
    ).to_pylist()[0]
    assert out["a"] is None and str(out["b"]) == "2024-03-05"
    assert out["c"] == "13:45:30" and out["d"] == "A-B c"
    assert out["e"] == '"s"' and out["f"] is None


def test_ansi_offset_fetch(engine):
    """r5: ANSI OFFSET n ROWS / FETCH FIRST|NEXT m ROWS ONLY spellings."""
    out = engine.execute(
        "SELECT r_regionkey FROM region ORDER BY 1 OFFSET 2 ROWS FETCH NEXT 2 ROWS ONLY"
    ).to_pylist()
    assert [r["r_regionkey"] for r in out] == [2, 3]
    out = engine.execute(
        "SELECT r_regionkey FROM region ORDER BY 1 FETCH FIRST 2 ROWS ONLY"
    ).to_pylist()
    assert [r["r_regionkey"] for r in out] == [0, 1]
    out = engine.execute(
        "SELECT r_regionkey FROM region ORDER BY 1 OFFSET 3 ROWS"
    ).to_pylist()
    assert [r["r_regionkey"] for r in out] == [3, 4]


def test_show_dynamic_volumes_transactions(engine):
    """r5: SHOW DYNAMIC TABLES / MATERIALIZED VIEWS / EXTERNAL VOLUMES /
    TRANSACTIONS / LOCKS."""
    engine.execute(
        "CREATE OR REPLACE EXTERNAL VOLUME shv STORAGE_LOCATIONS = "
        "((NAME='l' STORAGE_BASE_URL='file:///tmp/shv'))"
    )
    engine.execute("CREATE OR REPLACE MATERIALIZED VIEW shmv AS SELECT 1 AS x")
    try:
        dyn = engine.execute("SHOW DYNAMIC TABLES").to_pylist()
        assert any(r["name"] == "SHMV" and r["target_lag"] == "0 seconds" for r in dyn)
        assert engine.execute("SHOW MATERIALIZED VIEWS").to_pylist() == dyn
        vols = engine.execute("SHOW EXTERNAL VOLUMES").to_pylist()
        assert {"name": "SHV", "storage_base_url": "file:///tmp/shv"} in vols
        assert engine.execute("SHOW TRANSACTIONS").to_pylist() == []
        assert engine.execute("SHOW LOCKS").to_pylist() == []
    finally:
        engine.execute("DROP MATERIALIZED VIEW shmv")


def test_data_generation_and_numeric_trunc(engine):
    """r5: UNIFORM/NORMAL/ZIPF generators (gen arg -> rand()), numeric
    TRUNCATE/TRUNC toward zero, session time spellings, scalar
    LAST_QUERY_ID."""
    out = engine.execute(
        "SELECT MIN(u) >= 1 AND MAX(u) <= 10 AS ok FROM "
        "(SELECT UNIFORM(1, 10, RANDOM()) AS u FROM TABLE(GENERATOR(ROWCOUNT => 200)))"
    ).to_pylist()[0]
    assert out["ok"] is True
    out = engine.execute(
        "SELECT MIN(z) >= 1 AND MAX(z) <= 10 AS inb, "
        "SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) > "
        "SUM(CASE WHEN z = 10 THEN 1 ELSE 0 END) AS skew FROM "
        "(SELECT ZIPF(1, 10, RANDOM()) AS z FROM TABLE(GENERATOR(ROWCOUNT => 1000)))"
    ).to_pylist()[0]
    assert out == {"inb": True, "skew": True}  # zipf mass concentrates at rank 1
    out = engine.execute(
        "SELECT TRUNCATE(1.567, 1) AS a, TRUNC(1.567) AS b, "
        "TRUNCATE(-1.567, 1) AS c, TRUNC(DATE'2024-03-15', 'MONTH') AS d"
    ).to_pylist()[0]
    assert out["a"] == 1.5 and out["b"] == 1.0 and out["c"] == -1.5
    assert str(out["d"]) == "2024-03-01"  # date form untouched
    out = engine.execute(
        "SELECT LOCALTIME() RLIKE '^[0-9]{2}:[0-9]{2}:[0-9]{2}$' AS t, "
        "LENGTH(LAST_QUERY_ID()) > 0 AS q"
    ).to_pylist()[0]
    assert out == {"t": True, "q": True}


def test_string_object_odds_and_ends(engine):
    """r5: UNICODE (full code point), HAMMINGDIST, ARRAYS_TO_OBJECT,
    MAP_CAT/OBJECT_CAT json-splice merge."""
    out = engine.execute(
        "SELECT UNICODE('A') AS a, HAMMINGDIST('1011', '1001') AS h, "
        "TO_JSON(ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('a','b'), ARRAY_CONSTRUCT(1,2))) AS m, "
        "MAP_CAT(OBJECT_CONSTRUCT('a', 1), OBJECT_CONSTRUCT('b', 2)) AS c, "
        "MAP_CAT(OBJECT_CONSTRUCT(), OBJECT_CONSTRUCT('b', 2)) AS e"
    ).to_pylist()[0]
    assert out == {
        "a": 65, "h": 1, "m": '{"a":1,"b":2}', "c": '{"a":1,"b":2}', "e": '{"b":2}',
    }


def test_regexp_instr_count_and_try_base64(engine):
    """r6: REGEXP_COUNT position form, REGEXP_INSTR position/occurrence/
    option forms (0 = match start, 1 = first char after; 0 when no Nth
    occurrence), TRY_BASE64_DECODE_STRING NULL-on-invalid."""
    rows = engine.execute(
        "SELECT REGEXP_COUNT('a1b2c3', '[0-9]', 3) AS a, "
        "REGEXP_COUNT('a1b2c3', '[0-9]', 1, 'i') AS b, "
        "REGEXP_INSTR('a1b2c3', '[0-9]', 1, 2) AS c, "
        "REGEXP_INSTR('a1b2c3', '[0-9]', 3, 1) AS d, "
        "REGEXP_INSTR('a1b2c3', '[0-9]', 1, 2, 1) AS e, "
        "REGEXP_INSTR('abc', '[0-9]', 1, 1) AS f, "
        "REGEXP_INSTR('xAByc', 'ab', 1, 1, 0, 'i') AS g, "
        "REGEXP_INSTR('aa11bb22', '[0-9]+', 1, 2, 1) AS h, "
        "TRY_BASE64_DECODE_STRING('aGk=') AS i, "
        "TRY_BASE64_DECODE_STRING('!!!') AS j, "
        "TRY_HEX_DECODE_STRING('6869') AS k, "
        "TRY_HEX_DECODE_STRING('zz') AS l"
    ).to_pylist()[0]
    assert rows == {
        "a": 2, "b": 3, "c": 4, "d": 4, "e": 5, "f": 0, "g": 2, "h": 9,
        "i": "hi", "j": None, "k": "hi", "l": None,
    }


def test_misc_scalar_surface_pins(engine):
    """Pin the Snowflake spellings that pass through (or rewrite) but had
    no explicit regression net: APPROX_TOP_K, MODE, MEDIAN, ARRAY_PREPEND,
    OBJECT_KEYS, GETBIT, BITSHIFTRIGHT, TRANSLATE, RANDSTR determinism."""
    rows = engine.execute(
        "SELECT MODE(v) AS mo, MEDIAN(v) AS me FROM "
        "(SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 2 UNION ALL SELECT 9)"
    ).to_pylist()[0]
    assert rows == {"mo": 2, "me": 2.0}
    rows = engine.execute(
        "SELECT ARRAY_PREPEND(ARRAY_CONSTRUCT(1,2), 0) AS ap, "
        "OBJECT_KEYS(OBJECT_CONSTRUCT('a',1,'b',2)) AS ok, "
        "GETBIT(11, 2) AS gb, GETBIT(11, 3) AS gb3, "
        "BITSHIFTRIGHT(8, 2) AS bsr, "
        "TRANSLATE('abc', 'abc', 'xyz') AS tr"
    ).to_pylist()[0]
    assert rows == {
        "ap": [0, 1, 2], "ok": ["a", "b"], "gb": 0, "gb3": 1,
        "bsr": 2, "tr": "xyz",
    }
    top = engine.execute(
        "SELECT APPROX_TOP_K(l_returnflag, 1) AS t FROM lineitem"
    ).to_pylist()[0]["t"]
    assert len(top) == 1 and top[0]["count"] > 0
    r1 = engine.execute("SELECT RANDSTR(8, 42) AS r").to_pylist()[0]["r"]
    r2 = engine.execute("SELECT RANDSTR(8, 42) AS r").to_pylist()[0]["r"]
    assert r1 == r2 and len(r1) == 8  # seeded -> deterministic


def test_temp_and_plain_table_column_lifecycle(engine):
    """r6: TRUNCATE / ADD / RENAME / DROP COLUMN work on every table kind
    (Snowflake allows them everywhere; Spark's v1 catalog rejects
    RENAME/DROP COLUMN and temp views reject all four). RENAME keeps the
    column position; ADD appends; plain tables rewrite copy-on-write."""
    engine.execute("CREATE TEMP TABLE lct AS SELECT 1 AS a, 2 AS b")
    engine.execute("ALTER TABLE lct ADD COLUMN c NUMBER(10,2)")
    engine.execute("ALTER TABLE lct RENAME COLUMN b TO b2")
    engine.execute("ALTER TABLE lct DROP COLUMN a")
    rows = engine.execute("SELECT * FROM lct").to_pylist()
    assert rows == [{"b2": 2, "c": None}]
    engine.execute("TRUNCATE TABLE lct")
    assert engine.execute("SELECT COUNT(*) AS c FROM lct").to_pylist() == [{"c": 0}]

    engine.execute("CREATE OR REPLACE TABLE lcp AS SELECT 1 AS a, 2 AS b, 3 AS c")
    engine.execute("ALTER TABLE lcp RENAME COLUMN b TO b2")
    engine.execute("ALTER TABLE lcp DROP COLUMN a")
    assert engine.execute("SELECT * FROM lcp").to_pylist() == [{"b2": 2, "c": 3}]
    engine.execute("INSERT INTO lcp SELECT 9, 9")
    assert engine.execute(
        "SELECT COUNT(*) AS n, SUM(b2) AS s FROM lcp"
    ).to_pylist() == [{"n": 2, "s": 11}]
    engine.execute("DROP TABLE lcp")


def test_recluster_and_clustering_depth(engine):
    """r6: ALTER TABLE ... RECLUSTER re-lays data on the recorded CLUSTER BY
    keys (single key = plain range sort, LINEAR semantics) and
    SYSTEM$CLUSTERING_DEPTH reports the manifest-bounds stabbing depth —
    1.0 after reclustering (disjoint per-file bounds). SUSPEND/RESUME
    RECLUSTER are recorded no-ops (no background service)."""
    engine.execute(
        "CREATE OR REPLACE ICEBERG TABLE rcx CLUSTER BY (a) AS "
        "SELECT 3 AS a, 4 AS b UNION ALL SELECT 1, 2"
    )
    engine.execute("INSERT INTO rcx SELECT 2, 9")
    before = engine.execute("SELECT SYSTEM$CLUSTERING_DEPTH('rcx') AS d").to_pylist()[0]["d"]
    assert float(before) > 1.0  # overlapping file bounds after the append
    out = engine.execute("ALTER TABLE rcx RECLUSTER").to_pylist()[0]
    assert out["files_after"] <= out["files_before"]
    after = engine.execute("SELECT SYSTEM$CLUSTERING_DEPTH('rcx') AS d").to_pylist()[0]["d"]
    assert float(after) == 1.0
    st = engine.execute("ALTER TABLE rcx SUSPEND RECLUSTER").to_pylist()[0]["status"]
    assert "suspended" in st
    assert engine.execute("SELECT * FROM rcx ORDER BY a").to_pylist() == [
        {"a": 1, "b": 2}, {"a": 2, "b": 9}, {"a": 3, "b": 4},
    ]
    engine.execute("DROP TABLE rcx")


def test_positional_refs_over_values(engine):
    """r6: $N over a VALUES relation resolves to the Nth VALUES column
    (Snowflake positional semantics); $N elsewhere keeps the headerless
    stage convention (_cN-1, covered by the COPY tests)."""
    rows = engine.execute(
        "SELECT $1 AS a, $2 * 2 AS b FROM (VALUES (1, 2), (3, 4)) ORDER BY a"
    ).to_pylist()
    assert rows == [{"a": 1, "b": 4}, {"a": 3, "b": 8}]


def test_regr_valx_valy_and_distinct_within_group(engine):
    """r6: REGR_VALX/VALY pair-completeness scalars; ARRAY_AGG(DISTINCT x)
    WITHIN GROUP (ORDER BY x) sorts the distinct set (Snowflake requires
    ordering by the DISTINCT expression itself)."""
    rows = engine.execute(
        "SELECT REGR_VALX(NULL, 2.0) AS a, CAST(REGR_VALX(1.0, 2.0) AS DOUBLE) AS b, "
        "REGR_VALY(NULL, 2.0) AS c, REGR_VALY(1.0, NULL) AS d"
    ).to_pylist()[0]
    assert rows == {"a": None, "b": 2.0, "c": None, "d": None}
    v = engine.execute(
        "SELECT ARRAY_AGG(DISTINCT n_regionkey) WITHIN GROUP (ORDER BY n_regionkey) AS v FROM nation"
    ).to_pylist()[0]["v"]
    assert v == [0, 1, 2, 3, 4]


def test_epoch_date_parts(engine):
    """r6: DATE_PART/EXTRACT epoch_* fields map to the unix_* accessors
    (Spark's extract has no epoch fields)."""
    rows = engine.execute(
        "SELECT DATE_PART('epoch_second', '2024-01-15 00:00:00'::timestamp) AS a, "
        "DATE_PART(epoch_millisecond, '2024-01-15 00:00:00'::timestamp) AS b, "
        "EXTRACT(epoch_second FROM '2024-01-15 00:00:00'::timestamp) AS d, "
        "EXTRACT(epoch_nanosecond FROM '2024-01-15 00:00:00'::timestamp) AS n, "
        "EXTRACT(hour FROM '2024-01-15 13:00:00'::timestamp) AS h"
    ).to_pylist()[0]
    assert rows == {
        "a": 1705276800, "b": 1705276800000, "d": 1705276800,
        "n": 1705276800000000000, "h": 13,
    }


def test_windowed_skew_kurtosis(engine):
    """r6: SKEW/KURTOSIS with an OVER clause — the sample-correction CASE
    cannot carry OVER itself, so the window spec distributes into every
    aggregate inside; per-partition windowed value == the aggregate twin."""
    win = engine.execute(
        "SELECT n_regionkey, KURTOSIS(n_nationkey) OVER (PARTITION BY n_regionkey) AS ku, "
        "SKEW(n_nationkey) OVER (PARTITION BY n_regionkey) AS sk "
        "FROM nation ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    agg = engine.execute(
        "SELECT KURTOSIS(n_nationkey) AS k, SKEW(n_nationkey) AS s "
        "FROM nation WHERE n_regionkey = 0"
    ).to_pylist()[0]
    assert round(win["ku"], 10) == round(agg["k"], 10)
    assert round(win["sk"], 10) == round(agg["s"], 10)


def test_hash_agg_search_show_history(engine):
    """r6: HASH_AGG (order-invariant wrapping 64-bit sum of row hashes,
    duplicates counted), SEARCH (default-analyzer token overlap, both
    sides tokenized), SHOW TABLES HISTORY (live + UNDROP-able dropped)."""
    a = engine.execute(
        "SELECT HASH_AGG(n_nationkey) AS h FROM (SELECT n_nationkey FROM nation ORDER BY n_nationkey)"
    ).to_pylist()
    b = engine.execute(
        "SELECT HASH_AGG(n_nationkey) AS h FROM (SELECT n_nationkey FROM nation ORDER BY n_name DESC)"
    ).to_pylist()
    assert a == b and isinstance(a[0]["h"], int)
    dup = engine.execute(
        "SELECT HASH_AGG(v) AS h FROM (SELECT 1 AS v UNION ALL SELECT 1)"
    ).to_pylist()[0]["h"]
    single = engine.execute("SELECT HASH_AGG(v) AS h FROM (SELECT 1 AS v)").to_pylist()[0]["h"]
    assert dup != single  # duplicates change the hash (unlike an XOR fold)

    r = engine.execute(
        "SELECT SEARCH('hello world', 'WORLD') AS a, SEARCH('hello world', 'word') AS b, "
        "SEARCH('NATION_3', 'nation_3') AS c"
    ).to_pylist()[0]
    assert r == {"a": True, "b": False, "c": True}

    engine.execute("CREATE OR REPLACE ICEBERG TABLE hist_t AS SELECT 1 AS a")
    engine.execute("DROP TABLE hist_t")
    hist = engine.execute("SHOW TABLES HISTORY").to_pylist()
    assert any(r["name"] == "HIST_T" and r["dropped_on"] for r in hist)


def test_object_ops_compose_over_object_construct(engine):
    """r6: OBJECT_PICK/DELETE/INSERT accept a constructed object argument
    (struct serialized through to_json), not just canonical VARIANT text."""
    r = engine.execute(
        "SELECT OBJECT_PICK(OBJECT_CONSTRUCT('a',1,'b',2), 'a') AS v, "
        "OBJECT_DELETE(OBJECT_CONSTRUCT('a',1,'b',2), 'a') AS w, "
        "OBJECT_INSERT(OBJECT_CONSTRUCT('a',1), 'c', 3) AS x"
    ).to_pylist()[0]
    assert r == {"v": '{"a":1}', "w": '{"b":2}', "x": '{"a":1,"c":3}'}


def test_bitmap_family_exact_distinct(engine):
    """r6: BITMAP_BUCKET_NUMBER/BIT_POSITION/CONSTRUCT_AGG/OR_AGG/COUNT —
    the precomputed count-distinct rollup algebra must reproduce the exact
    COUNT(DISTINCT), including values straddling the 32768 bucket edge."""
    r = engine.execute(
        "WITH v AS (SELECT * FROM VALUES (1),(2),(2),(32768),(32769),(32769),(70000) AS t(x)),"
        " b AS (SELECT BITMAP_BUCKET_NUMBER(x) AS bkt,"
        "       BITMAP_CONSTRUCT_AGG(BITMAP_BIT_POSITION(x)) AS bmp"
        "       FROM v GROUP BY bkt)"
        " SELECT CAST(SUM(BITMAP_COUNT(bmp)) AS BIGINT) AS nd,"
        "        CAST(COUNT(*) AS BIGINT) AS n_buckets FROM b"
    ).to_pylist()[0]
    assert r == {"nd": 5, "n_buckets": 3}  # {1,2} {32768? no: 32768->bkt1 pos 32767} ...
    # bucket sanity: 1..32768 -> bucket 1, 32769 -> bucket 2
    r2 = engine.execute(
        "SELECT BITMAP_BUCKET_NUMBER(1) AS a, BITMAP_BUCKET_NUMBER(32768) AS b,"
        " BITMAP_BUCKET_NUMBER(32769) AS c, BITMAP_BIT_POSITION(1) AS p0,"
        " BITMAP_BIT_POSITION(32768) AS p1, BITMAP_BIT_POSITION(32769) AS p2"
    ).to_pylist()[0]
    assert r2 == {"a": 1, "b": 1, "c": 2, "p0": 0, "p1": 32767, "p2": 0}
    # OR_AGG merges bitmaps (set union) across groups
    r3 = engine.execute(
        "WITH v AS (SELECT * FROM VALUES ('g1', 5), ('g1', 6), ('g2', 6), ('g2', 7) AS t(g, x)),"
        " b AS (SELECT g, BITMAP_BUCKET_NUMBER(x) AS bkt,"
        "       BITMAP_CONSTRUCT_AGG(BITMAP_BIT_POSITION(x)) AS bmp FROM v GROUP BY g, bkt)"
        " SELECT CAST(SUM(BITMAP_COUNT(bmp)) AS BIGINT) AS nd"
        " FROM (SELECT bkt, BITMAP_OR_AGG(bmp) AS bmp FROM b GROUP BY bkt)"
    ).to_pylist()[0]
    assert r3 == {"nd": 3}


def test_insert_function_guarded_from_merge(engine, spark):
    """r6 regression: INSERT(base, pos, len, repl) is a string function,
    but MERGE's 'WHEN NOT MATCHED THEN INSERT (c1,c2,c3,c4)' column list
    must never be rewritten to overlay — exactly-4-column merges used to
    hit the unguarded call scan."""
    import uuid

    r = engine.execute("SELECT INSERT('abcdefg', 3, 2, 'XY') AS v").to_pylist()[0]
    assert r == {"v": "abXYefg"}
    # unique names: the MERGE path materializes a managed table whose
    # warehouse LOCATION outlives the session — a fixed name fails the next
    # run with LOCATION_ALREADY_EXISTS
    t, s = f"ig_t_{uuid.uuid4().hex[:8]}", f"ig_s_{uuid.uuid4().hex[:8]}"
    engine.execute(f"CREATE OR REPLACE TEMP TABLE {t} AS SELECT 1 AS a, 2 AS b, 3 AS c, 4 AS d")
    engine.execute(f"CREATE OR REPLACE TEMP TABLE {s} AS SELECT 9 AS a, 8 AS b, 7 AS c, 6 AS d")
    engine.execute(
        f"MERGE INTO {t} t USING {s} s ON t.a = s.a "
        "WHEN NOT MATCHED THEN INSERT (a, b, c, d) VALUES (s.a, s.b, s.c, s.d)"
    )
    rows = engine.execute(f"SELECT * FROM {t} ORDER BY a").to_pylist()
    assert rows == [
        {"a": 1, "b": 2, "c": 3, "d": 4},
        {"a": 9, "b": 8, "c": 7, "d": 6},
    ]


def test_parse_ip_getdate_misc(engine):
    """r6: PARSE_IP IPv4/CIDR fields (exact shift-derived range bounds),
    the no-prefix form (range/netmask fields absent from the VARIANT),
    RTRIMMED_LENGTH, GETDATE, FACTORIAL, HAVERSINE."""
    r = engine.execute(
        "SELECT CAST(PARSE_IP('192.168.1.10/28', 'INET'):ipv4 AS BIGINT) AS v,"
        " CAST(PARSE_IP('192.168.1.10/28', 'INET'):ipv4_range_start AS BIGINT) AS r0,"
        " CAST(PARSE_IP('192.168.1.10/28', 'INET'):ipv4_range_end AS BIGINT) AS r1,"
        " CAST(PARSE_IP('192.168.1.10/28', 'INET'):netmask_prefix_length AS INT) AS p,"
        " CAST(PARSE_IP('192.168.1.10/28', 'INET'):host AS VARCHAR) AS h"
    ).to_pylist()[0]
    assert r["v"] == 192 * 16777216 + 168 * 65536 + 256 + 10
    assert r["r0"] == r["v"] - (r["v"] % 16) and r["r1"] == r["r0"] + 15
    assert r == {**r, "p": 28, "h": "192.168.1.10"}
    # no prefix: range fields are JSON-absent (colon path -> NULL)
    r2 = engine.execute(
        "SELECT CAST(PARSE_IP('10.0.0.1', 'INET'):ipv4 AS BIGINT) AS v,"
        " PARSE_IP('10.0.0.1', 'INET'):netmask_prefix_length AS p"
    ).to_pylist()[0]
    assert r2 == {"v": 10 * 16777216 + 1, "p": None}
    r3 = engine.execute(
        "SELECT RTRIMMED_LENGTH('  pad  ') AS rtl, GETDATE() IS NOT NULL AS g,"
        " CAST(FACTORIAL(5) AS BIGINT) AS f,"
        " CAST(ROUND(HAVERSINE(40.7127, -74.0059, 34.0500, -118.2500), 1) AS DOUBLE) AS hv"
    ).to_pylist()[0]
    assert r3 == {"rtl": 5, "g": True, "f": 120, "hv": 3936.4}


def test_system_wait(engine):
    """r6: SYSTEM$WAIT(n[, unit]) — sleeps (capped) and returns Snowflake's
    literal 'waited n <unit>' string; MILLISECONDS unit honored."""
    import time

    t0 = time.time()
    r = engine.execute("SELECT SYSTEM$WAIT(1) AS w").to_pylist()[0]
    assert r == {"w": "waited 1 seconds"} and time.time() - t0 >= 1.0
    r2 = engine.execute("SELECT SYSTEM$WAIT(50, 'MILLISECONDS') AS w").to_pylist()[0]
    assert r2 == {"w": "waited 50 milliseconds"}


def test_round_mode_week_tz_array_object_ext(engine):
    """r6 probe-round gaps: 3-arg ROUND rounding modes, WEEK, ARRAY_REVERSE,
    TO_TIMESTAMP_TZ, OBJECT_CONSTRUCT_KEEP_NULL, GET_IGNORE_CASE."""
    r = engine.execute(
        "SELECT CAST(ROUND(2.5, 0, 'HALF_TO_EVEN') AS INT) AS he,"
        " CAST(ROUND(2.5, 0, 'HALF_AWAY_FROM_ZERO') AS INT) AS ha,"
        " CAST(ROUND(3.5, 0, 'HALF_TO_EVEN') AS INT) AS he2,"
        " WEEK('2024-01-15'::date) AS wk,"
        " TO_TIMESTAMP_TZ('2024-01-15 10:30:00') IS NOT NULL AS tz,"
        " TO_JSON(ARRAY_REVERSE(ARRAY_CONSTRUCT(1,2,3))) AS ar,"
        " OBJECT_CONSTRUCT_KEEP_NULL('a', NULL, 'b', 2) AS ok,"
        " GET_IGNORE_CASE(OBJECT_CONSTRUCT('Alpha', 1, 'Beta', 2), 'alpha') AS gi"
    ).to_pylist()[0]
    assert r == {
        "he": 2, "ha": 3, "he2": 4, "wk": 3, "tz": True,
        "ar": "[3,2,1]", "ok": '{"a":null,"b":2}', "gi": "1",
    }
    # 1/2-arg ROUND unaffected by the 3-arg mode rewrite
    r2 = engine.execute("SELECT CAST(ROUND(2.345, 2) AS DOUBLE) AS r").to_pylist()[0]
    assert r2 == {"r": 2.35}


def test_time_parts_codec_xmlget(engine):
    """r6 probe wave 2: TIME_FROM_PARTS ('HH:mm:ss' — the TO_TIME
    representation), TIMESTAMP_LTZ/TZ_FROM_PARTS, COMPRESS/
    DECOMPRESS_STRING/DECOMPRESS_BINARY (zlib + gzip, Arrow-batched pandas
    UDFs, deterministic gzip mtime=0), XMLGET subset over XML text."""
    r = engine.execute(
        "SELECT TIME_FROM_PARTS(9, 5, 3) AS t,"
        " TIMESTAMP_LTZ_FROM_PARTS(2024, 1, 15, 10, 30, 0) IS NOT NULL AS lp,"
        " TIMESTAMP_TZ_FROM_PARTS(2024, 1, 15, 10, 30, 0) IS NOT NULL AS tp,"
        " DECOMPRESS_STRING(COMPRESS('hello world', 'zlib'), 'zlib') AS z,"
        " DECOMPRESS_STRING(COMPRESS('hello world', 'gzip'), 'gzip') AS g,"
        " CAST(DECOMPRESS_BINARY(COMPRESS('ab', 'zlib'), 'zlib') AS STRING) AS b,"
        " XMLGET('<a><b attr=\"1\">inner</b><b>second</b></a>', 'b') AS x0,"
        " XMLGET('<a><b>inner</b><b>second</b></a>', 'b', 1) AS x1,"
        " XMLGET('<a></a>', 'c') IS NULL AS xn"
    ).to_pylist()[0]
    assert r == {
        "t": "09:05:03", "lp": True, "tp": True,
        "z": "hello world", "g": "hello world", "b": "ab",
        "x0": '{"@":"b","$":"inner"}', "x1": '{"@":"b","$":"second"}', "xn": True,
    }
    # unsupported codec raises loudly, never passes data through
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.execute("SELECT COMPRESS('x', 'snappy')").to_pylist()


def test_warehouse_guard_reclamation(engine, tmp_path, monkeypatch):
    """ADVICE r8 (medium): orphan-location reclamation must not delete a
    directory another LIVE engine process may own. The pid registry under
    {warehouse}/_live_pids decides: a foreign live pid blocks reclamation,
    a dead pid's marker is pruned and reclamation proceeds."""
    import os
    import subprocess

    from universql_spark import warehouse_guard as wg

    # Engine.__init__ registered this process in the REAL warehouse
    real_wh = wg._warehouse_path(engine.spark)
    assert os.path.exists(os.path.join(real_wh, wg.LIVE_DIR, str(os.getpid())))
    # ...but assert reclamation against an ISOLATED registry: the real
    # shared warehouse may legitimately hold other live engines when
    # suites/tools run concurrently (the exact situation the guard is for)
    wh = str(tmp_path / "isolated_warehouse")
    os.makedirs(os.path.join(wh, wg.LIVE_DIR), exist_ok=True)
    monkeypatch.setattr(wg, "_warehouse_path", lambda spark: wh)
    victim = tmp_path / "victim_table"
    victim.mkdir()
    (victim / "part-0.parquet").write_bytes(b"x")
    # a FOREIGN live engine (pid 1 is always alive) blocks reclamation
    foreign = os.path.join(wh, wg.LIVE_DIR, "1")
    open(foreign, "w").close()
    try:
        assert wg.reclaim_orphan(engine.spark, str(victim)) is False
        assert victim.exists()
        # owned=True (OR REPLACE / DML shadow semantics) reclaims anyway:
        # the caller holds replace rights over the name (r8 refinement —
        # the all-mode guard made crash recovery fail under co-tenancy)
        owned_victim = tmp_path / "owned_victim"
        owned_victim.mkdir()
        assert wg.reclaim_orphan(engine.spark, str(owned_victim), owned=True) is True
        assert not owned_victim.exists()
    finally:
        os.unlink(foreign)
    # a DEAD pid's stale marker is pruned; sole-live-engine reclamation runs
    p = subprocess.Popen(["true"])
    p.wait()
    stale = os.path.join(wh, wg.LIVE_DIR, str(p.pid))
    open(stale, "w").close()
    assert wg.reclaim_orphan(engine.spark, str(victim)) is True
    assert not victim.exists()
    assert not os.path.exists(stale)


def test_dml_shadow_crash_recovery_qualified(engine, monkeypatch):
    """ADVICE r8 (medium): the shadow-swap DML path recovers from an
    orphaned shadow LOCATION via the error-reported path — which is also
    correct for qualified db.tbl names, where the old {warehouse}/{name}
    join never matched the real managed location."""
    import os
    import shutil

    from universql_spark import warehouse_guard as wg

    # pin the sole-live-engine condition: concurrent suites/tools in the
    # shared warehouse would (correctly) refuse reclamation and turn this
    # crash-RECOVERY test into a refusal test
    monkeypatch.setattr(wg, "other_live_engines", lambda spark: [])

    engine.execute(
        "CREATE OR REPLACE TABLE gdb.s.gt AS SELECT 1 AS id UNION ALL SELECT 2"
    )
    # plant an orphan where the qualified shadow's managed location lives:
    # write the shadow once to learn the path, drop it, recreate dir junk
    from universql_spark.engine_dml import _replace_table

    spark = engine.spark
    resolved = engine._resolve_name("gdb.s.gt")
    spark.range(1).write.mode("overwrite").saveAsTable(f"{resolved}__dml_shadow")
    loc = (
        spark.sql(f"DESC FORMATTED {resolved}__dml_shadow")
        .filter("col_name = 'Location'")
        .collect()[0][1]
        .removeprefix("file:")
    )
    spark.sql(f"DROP TABLE {resolved}__dml_shadow")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "junk"), "w") as f:
        f.write("orphan")
    # UPDATE goes through the shadow swap (qualified targets skip snapshot
    # adoption) and must recover from the orphan, not fail or mis-delete
    engine.execute("UPDATE gdb.s.gt SET id = id + 10")
    rows = sorted(r["id"] for r in engine.execute("SELECT id FROM gdb.s.gt").to_pylist())
    assert rows == [11, 12]
    engine.execute("DROP TABLE gdb.s.gt")
    shutil.rmtree(loc, ignore_errors=True)


def test_insert_overwrite_atomic_on_failure(engine):
    """ADVICE r8 (low): INSERT OVERWRITE INTO must leave prior data intact
    when the source query fails (Snowflake's overwrite is atomic); the old
    truncate-then-insert emulation left the table empty."""
    import pytest as _pytest

    engine.execute("CREATE OR REPLACE TABLE iovw_t AS SELECT 1 AS a, 'x' AS b")
    with _pytest.raises(Exception):
        engine.execute("INSERT OVERWRITE INTO iovw_t SELECT no_such_col FROM iovw_t")
    assert engine.execute("SELECT * FROM iovw_t").to_pylist() == [{"a": 1, "b": "x"}]
    # and the success path still fully replaces
    engine.execute("INSERT OVERWRITE INTO iovw_t SELECT 9, 'z'")
    assert engine.execute("SELECT * FROM iovw_t").to_pylist() == [{"a": 9, "b": "z"}]
    engine.execute("DROP TABLE iovw_t")


def test_warehouse_guard_real_second_process(engine, tmp_path, monkeypatch):
    """ADVICE r8, cross-PROCESS repro: a real second python process
    registers in the shared warehouse; while it lives, this process's
    reclamation is refused; after it exits, its marker is pruned and
    reclamation proceeds. (The unit test fakes liveness with pid 1; this
    one exercises the registry against an actual process lifecycle.)
    The registry is pointed at an isolated dir: the REAL shared warehouse
    legitimately contains other live engines when suites run concurrently
    (which is exactly the situation the guard exists for)."""
    import os
    import subprocess
    import sys
    import time

    from universql_spark import warehouse_guard as wg

    wh = str(tmp_path / "isolated_warehouse")
    os.makedirs(wh, exist_ok=True)
    monkeypatch.setattr(wg, "_warehouse_path", lambda spark: wh)
    helper = (
        "import os, sys, time\n"
        f"d = os.path.join({wh!r}, {wg.LIVE_DIR!r})\n"
        "os.makedirs(d, exist_ok=True)\n"
        "open(os.path.join(d, str(os.getpid())), 'w').write(str(os.getpid()))\n"
        "print('ready', flush=True)\n"
        "time.sleep(60)\n"
    )
    victim = tmp_path / "second_proc_table"
    victim.mkdir()
    (victim / "part-0.parquet").write_bytes(b"x")
    p = subprocess.Popen([sys.executable, "-c", helper], stdout=subprocess.PIPE)
    try:
        assert p.stdout.readline().strip() == b"ready"
        assert wg.reclaim_orphan(engine.spark, str(victim)) is False
        assert victim.exists()
    finally:
        p.kill()
        p.wait()
    # give the kernel a beat to reap, then the dead pid no longer blocks
    time.sleep(0.2)
    assert wg.reclaim_orphan(engine.spark, str(victim)) is True
    assert not victim.exists()


def test_warehouse_guard_sigkill_midswap_recovery(engine, tmp_path, monkeypatch):
    """VERDICT r8 #6: a REAL engine process killed with SIGKILL mid-swap
    (marker file left behind — atexit never runs on kill -9) must not block
    recovery: the next process prunes the dead pid and reclaims the orphan
    EXACTLY ONCE — after recovery the location belongs to a live process
    again and a further process's reclamation is refused."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from universql_spark import warehouse_guard as wg

    wh = str(tmp_path / "isolated_warehouse")
    os.makedirs(os.path.join(wh, wg.LIVE_DIR), exist_ok=True)
    monkeypatch.setattr(wg, "_warehouse_path", lambda spark: wh)
    victim = tmp_path / "midswap_shadow"

    # child 1: registers as live, plants the mid-swap shadow dir, hangs
    helper = (
        "import os, time\n"
        f"d = os.path.join({wh!r}, {wg.LIVE_DIR!r})\n"
        "open(os.path.join(d, str(os.getpid())), 'w').write(str(os.getpid()))\n"
        f"os.makedirs({str(victim)!r}, exist_ok=True)\n"
        f"open(os.path.join({str(victim)!r}, 'part-0.parquet'), 'wb').write(b'x')\n"
        "print('ready', flush=True)\n"
        "time.sleep(120)\n"
    )
    p = subprocess.Popen([sys.executable, "-c", helper], stdout=subprocess.PIPE)
    assert p.stdout.readline().strip() == b"ready"
    marker = os.path.join(wh, wg.LIVE_DIR, str(p.pid))
    assert os.path.exists(marker)
    # while the child LIVES, reclamation is refused (it may own the swap)
    assert wg.reclaim_orphan(engine.spark, str(victim)) is False
    assert victim.exists()

    os.kill(p.pid, signal.SIGKILL)
    p.wait()
    time.sleep(0.2)
    assert os.path.exists(marker)  # SIGKILL skipped atexit — marker survives

    # recovery: dead pid pruned by the liveness scan, orphan reclaimed
    assert wg.reclaim_orphan(engine.spark, str(victim)) is True
    assert not victim.exists()
    assert not os.path.exists(marker)

    # exactly once: THIS process now owns the location (re-registered by
    # reclaim_orphan); a different live process must be refused
    assert os.path.exists(os.path.join(wh, wg.LIVE_DIR, str(os.getpid())))
    victim.mkdir()
    (victim / "part-0.parquet").write_bytes(b"new-owner")
    helper2 = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from universql_spark import warehouse_guard as wg\n"
        "class _Conf:\n"
        f"    def get(self, k, d=''): return {wh!r}\n"
        "class _S:\n"
        "    conf = _Conf()\n"
        f"print(wg.reclaim_orphan(_S(), {str(victim)!r}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", helper2], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"
    assert (victim / "part-0.parquet").read_bytes() == b"new-owner"


def test_array_multiset_semantics(engine):
    """r8 probe sweep: ARRAY_EXCEPT/ARRAY_INTERSECTION are multiset ops in
    Snowflake — per-occurrence cancellation, order preserved, no dedup
    (Spark's builtins are set-based; the dialect emulates positionally)."""
    out = engine.execute(
        "SELECT ARRAY_EXCEPT(ARRAY_CONSTRUCT('A','B','B','B','C'), ARRAY_CONSTRUCT('B')) AS e1, "
        "ARRAY_INTERSECTION(ARRAY_CONSTRUCT('B','B'), ARRAY_CONSTRUCT('B','B','C')) AS i1, "
        "ARRAY_INTERSECTION(ARRAY_CONSTRUCT('B','B','B'), ARRAY_CONSTRUCT('B')) AS i2, "
        "ARRAY_EXCEPT(ARRAY_CONSTRUCT(1, NULL, NULL), ARRAY_CONSTRUCT(NULL)) AS e2"
    ).to_pylist()[0]
    assert out == {
        "e1": ["A", "B", "B", "C"],
        "i1": ["B", "B"],
        "i2": ["B"],
        "e2": [1, None],
    }


def test_string_conversion_probe_closures(engine):
    """r8 probe sweep #4 (string/conversion spellings): the four documented
    Snowflake semantics Spark's builtins miss — SPLIT_PART part 0 is
    treated as 1; CONCAT_WS is NULL-poisoning (any NULL argument, separator
    included, nulls the result); 1-arg INITCAP's default delimiter set is
    whitespace PLUS punctuation; TO_BOOLEAN/TRY_TO_BOOLEAN accept
    'on'/'off'. All rewritten in the dialect ring."""
    out = engine.execute(
        "SELECT SPLIT_PART('a.b.c', '.', 0) AS sp0, "
        "CONCAT_WS(',', 'a', NULL, 'b') AS cw_null, "
        "CONCAT_WS(NULL, 'a', 'b') AS cw_nullsep, "
        "CONCAT_WS(',', 'a', 'b') AS cw_ok, "
        "INITCAP('the sql-code') AS ic_punct, "
        "INITCAP('a_b.c/d,e') AS ic_mixed, "
        "INITCAP('a.b c', '.') AS ic_custom, "
        "TO_BOOLEAN('off') AS tb_off, "
        "TO_BOOLEAN('ON') AS tb_on, "
        "TO_BOOLEAN(2) AS tb_num, "
        "TRY_TO_BOOLEAN('maybe') AS ttb_bad, "
        "TRY_TO_BOOLEAN('off') AS ttb_off"
    ).to_pylist()[0]
    assert out["sp0"] == "a"
    assert out["cw_null"] is None
    assert out["cw_nullsep"] is None
    assert out["cw_ok"] == "a,b"
    assert out["ic_punct"] == "The Sql-Code"
    assert out["ic_mixed"] == "A_B.C/D,E"
    assert out["ic_custom"] == "A.B c"
    assert out["tb_off"] is False
    assert out["tb_on"] is True
    assert out["tb_num"] is True
    assert out["ttb_bad"] is None
    assert out["ttb_off"] is False


def test_semi_structured_probe_closures(engine):
    """r8 probe sweep #5: IS_NULL_VALUE distinguishes JSON null (TRUE) from
    a missing path (SQL NULL) via Spark's variant functions; datetime
    format elements are case-insensitive ('DD-Mon-YYYY'), matching
    Snowflake's documented behavior."""
    out = engine.execute(
        "SELECT IS_NULL_VALUE(PARSE_JSON('{\"a\": null}'):a) AS nv_null, "
        "IS_NULL_VALUE(PARSE_JSON('{\"a\": null}'):b) AS nv_missing, "
        "IS_NULL_VALUE(PARSE_JSON('{\"a\": 3}'):a) AS nv_val, "
        "IS_NULL_VALUE(PARSE_JSON('{\"a\": [1, null]}'):a[1]) AS nv_arr, "
        "TO_DATE('05-Mar-2024', 'DD-Mon-YYYY') AS d_mon, "
        "TO_CHAR(DATE '2024-03-05', 'dd-mon-yyyy') AS c_low"
    ).to_pylist()[0]
    assert out["nv_null"] is True
    assert out["nv_missing"] is None
    assert out["nv_val"] is False
    assert out["nv_arr"] is True
    assert str(out["d_mon"]) == "2024-03-05"
    assert out["c_low"] == "05-Mar-2024"


def test_datetime_probe_closures(engine):
    """r8 probe sweep #6: Snowflake DATEDIFF counts unit-BOUNDARY crossings
    (not elapsed complete units — DuckDB's date_diff shares this
    definition); DATEADD accepts the full documented unit-alias set
    (yyyy/mons/hrs/...); DAYOFWEEK and every dow spelling are 0=Sunday..
    6=Saturday (default WEEK_START=0); nanosecond is a real extract part."""
    out = engine.execute(
        "SELECT DATEDIFF(month, DATE '2024-01-31', DATE '2024-02-01') AS dd_m, "
        "DATEDIFF(year, DATE '2023-12-31', DATE '2024-01-01') AS dd_y, "
        "DATEDIFF(week, DATE '2024-01-06', DATE '2024-01-08') AS dd_w, "
        "DATEDIFF(hour, TIMESTAMP '2024-01-01 10:59:59', TIMESTAMP '2024-01-01 11:00:00') AS dd_h, "
        "DATEDIFF(day, DATE '2024-03-01', DATE '2024-02-01') AS dd_neg, "
        "DATEDIFF(ms, TIMESTAMP '2024-01-01 00:00:00.0009', TIMESTAMP '2024-01-01 00:00:00.001') AS dd_ms, "
        "DATEADD(yyyy, 1, DATE '2024-02-29') AS da_y, "
        "DATEADD(hrs, 2, TIMESTAMP '2024-01-01 00:00:00') AS da_h, "
        "DAYOFWEEK(DATE '2024-01-07') AS dow_sun, "
        "EXTRACT(DAYOFWEEK FROM DATE '2024-01-06') AS dow_sat, "
        "DATE_PART('dow', DATE '2024-01-08') AS dow_mon, "
        "DATE_PART(nanosecond, TIMESTAMP '2024-01-01 00:00:00.123456') AS ns"
    ).to_pylist()[0]
    assert out["dd_m"] == 1 and out["dd_y"] == 1 and out["dd_w"] == 1
    assert out["dd_h"] == 1 and out["dd_neg"] == -29 and out["dd_ms"] == 1
    assert str(out["da_y"]).startswith("2025-02-28")
    assert str(out["da_h"]).startswith("2024-01-01 02:00:00")
    assert out["dow_sun"] == 0 and out["dow_sat"] == 6 and out["dow_mon"] == 1
    assert out["ns"] == 123456000


def test_default_null_ordering(engine):
    """r8 probe sweep #7: Snowflake's default NULL ordering is ASC -> NULLS
    LAST, DESC -> NULLS FIRST — the opposite of Spark's on both counts,
    visible to any LIMIT/top-k over a nullable sort key. The dialect
    appends the explicit clause to every sort key that lacks one
    (statement, subquery, and window ORDER BYs); explicit NULLS clauses
    are untouched."""
    three = "(SELECT 1 AS v UNION ALL SELECT NULL UNION ALL SELECT 2)"
    out = engine.execute(
        f"SELECT (SELECT v FROM {three} ORDER BY v LIMIT 1) AS asc_first, "
        f"(SELECT v FROM {three} ORDER BY v DESC LIMIT 1) AS desc_first, "
        f"(SELECT v FROM {three} ORDER BY v NULLS FIRST LIMIT 1) AS explicit_kept, "
        f"(SELECT first_value(v) OVER (ORDER BY v DESC) FROM {three} LIMIT 1) AS win_desc"
    ).to_pylist()[0]
    assert out["asc_first"] == 1       # NULL sorts last ascending
    assert out["desc_first"] is None   # NULL sorts first descending
    assert out["explicit_kept"] is None
    assert out["win_desc"] is None


def test_spaced_colon_paths(engine):
    """r8 probe sweep #8: whitespace is legal around the semi-structured
    path colon and its separators (`v : a . b [0]` == `v:a.b[0]`); `::`
    casts and already-tight paths are untouched."""
    out = engine.execute(
        "SELECT PARSE_JSON('{\"a\": {\"b\": 5}}') : a . b AS nested, "
        "PARSE_JSON('{\"a\": [10, 20]}'):a [1] AS bracket, "
        "PARSE_URL('https://h.com/p?q=1') :host AS url_host, "
        "1 :: INT AS cast_kept"
    ).to_pylist()[0]
    assert out["nested"] == "5"
    assert out["bracket"] == "20"
    assert out["url_host"] == "h.com"
    assert out["cast_kept"] == 1


def test_integer_cast_rounding(engine):
    """r8 probe sweep #8: integer-target casts round half away from zero in
    Snowflake (and DuckDB) where Spark truncates — 3.5::INT is 4, '1.9'::INT
    is 2; BIGINT extremes stay exact through the DECIMAL(38,0) chain."""
    out = engine.execute(
        "SELECT 3.5::INT AS a, 2.5::INT AS b, (-3.5)::INT AS c, "
        "CAST(3.7 AS BIGINT) AS d, CAST(3.4 AS INT) AS e, "
        "'1.9'::INT AS f, TRY_CAST('bad' AS INT) AS g, "
        "CAST(9223372036854775807 AS BIGINT) AS h, "
        "'::INT kept' AS lit"
    ).to_pylist()[0]
    assert (out["a"], out["b"], out["c"]) == (4, 3, -4)
    assert (out["d"], out["e"], out["f"]) == (4, 3, 2)
    assert out["g"] is None
    assert out["h"] == 9223372036854775807
    assert out["lit"] == "::INT kept"


def test_quantified_subquery_comparisons(engine):
    """r8 probe sweep #9: = ANY/SOME -> IN, <> ALL -> NOT IN (exact), and
    the ordering/equality forms via guarded MIN/MAX scalar subqueries
    (ALL over the empty set is TRUE, ANY FALSE)."""
    out = engine.execute(
        "SELECT "
        "(SELECT COUNT(*) FROM nation WHERE n_regionkey = ANY (SELECT r_regionkey FROM region WHERE r_regionkey < 2)) AS any_eq, "
        "(SELECT COUNT(*) FROM nation WHERE n_nationkey > ALL (SELECT r_regionkey FROM region)) AS all_gt, "
        "(SELECT COUNT(*) FROM nation WHERE n_nationkey > ALL (SELECT r_regionkey FROM region WHERE r_regionkey > 99)) AS all_empty, "
        "(SELECT COUNT(*) FROM nation WHERE n_nationkey < SOME (SELECT r_regionkey FROM region WHERE r_regionkey > 99)) AS some_empty, "
        "(SELECT COUNT(*) FROM nation WHERE n_regionkey = ALL (SELECT r_regionkey FROM region WHERE r_regionkey = 2)) AS eq_all, "
        "(SELECT COUNT(*) FROM nation WHERE n_regionkey <> ANY (SELECT r_regionkey FROM region WHERE r_regionkey < 2)) AS ne_any"
    ).to_pylist()[0]
    assert out == {"any_eq": 10, "all_gt": 20, "all_empty": 25,
                   "some_empty": 0, "eq_all": 5, "ne_any": 25}


def test_temp_table_dml(engine):
    """Snowflake temp tables (CREATE TEMP TABLE AS SELECT) take
    INSERT/DELETE/UPDATE like every other table: they are Iceberg tables
    holding the selected rows, not a live query."""
    engine.execute("CREATE OR REPLACE TEMP TABLE tdml AS SELECT 1 AS v, 'a' AS s")
    assert engine.execute("INSERT INTO tdml SELECT 2, 'b'").to_pylist() == [
        {"number of rows inserted": 1}
    ]
    # CTE-prefixed INSERT body (legal Snowflake), VALUES, and column-list
    engine.execute("INSERT INTO tdml WITH c AS (SELECT 3 AS v) SELECT v, 'c' FROM c")
    engine.execute("INSERT INTO tdml VALUES (4, 'd'), (5, 'e')")
    assert engine.execute("INSERT INTO tdml (s) VALUES ('f')").to_pylist() == [
        {"number of rows inserted": 1}
    ]
    assert engine.execute(
        "SELECT COUNT(*) AS n, SUM(v) AS sv FROM tdml"
    ).to_pylist() == [{"n": 6, "sv": 15}]
    assert engine.execute(
        "UPDATE tdml SET v = v * 10 WHERE s IN ('a','b')"
    ).to_pylist()[0]["rows_updated"] == 2
    assert engine.execute("DELETE FROM tdml WHERE v IS NULL").to_pylist()[0]["rows_deleted"] == 1
    rows = engine.execute("SELECT v, s FROM tdml ORDER BY s").to_pylist()
    assert rows == [
        {"v": 10, "s": "a"},
        {"v": 20, "s": "b"},
        {"v": 3, "s": "c"},
        {"v": 4, "s": "d"},
        {"v": 5, "s": "e"},
    ]
    engine.execute("DROP TABLE tdml")


def test_temp_table_dml_pins_no_blocks(engine):
    """A TEMP table's DML holds nothing in memory: three UPDATEs and a DROP
    leave the count of persisted RDDs where it was."""
    jsc = engine.spark.sparkContext._jsc
    blocks = jsc.getPersistentRDDs().size()
    engine.execute(
        "CREATE OR REPLACE TEMP TABLE tpb_t AS SELECT id, id * 2 AS v FROM range(10) AS r(id)"
    )
    for i in range(3):
        engine.execute(f"UPDATE tpb_t SET v = v + 1 WHERE id = {i}")
    assert engine.execute("SELECT SUM(v) AS s FROM tpb_t").to_pylist() == [{"s": 93}]
    engine.execute("DROP TABLE tpb_t")
    assert jsc.getPersistentRDDs().size() == blocks


def test_column_list_temp_table_is_iceberg(engine):
    """CREATE TEMP TABLE t (cols) makes an Iceberg table, not a catalog
    table: a DELETE rewrites only the data file holding the matched row."""
    engine.execute("CREATE OR REPLACE TEMP TABLE clt_t (k INT, v VARCHAR(8))")
    assert "clt_t" in engine.snap_tables
    assert not engine.spark.catalog.tableExists("default.clt_t")
    engine.execute("INSERT INTO clt_t VALUES (1, 'a'), (2, 'b')")
    engine.execute("INSERT INTO clt_t VALUES (3, 'c')")
    before = _table_files(engine, "clt_t")
    out = engine.execute("DELETE FROM clt_t WHERE k = 3").to_pylist()
    assert out == [{"rows_deleted": 1, "files_rewritten": 1}]
    after = _table_files(engine, "clt_t")
    assert set(after) < set(before) and len(set(before) - set(after)) == 1
    rows = engine.execute("SELECT k, v FROM clt_t ORDER BY k").to_pylist()
    assert rows == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    engine.execute("DROP TABLE clt_t")


@pytest.mark.parametrize("temp", ["", "TEMP "], ids=["plain", "temp"])
def test_history_on_new_table(engine, temp):
    """Time travel, STREAM and UNDROP work on a plain or TEMP table from its
    CREATE, before any DML."""
    engine.execute(f"CREATE OR REPLACE {temp}TABLE hnt_t AS SELECT 1 AS id")
    sid = engine.snap_tables["hnt_t"].snapshots()[-1]["id"]
    assert engine.execute(f"SELECT id FROM hnt_t AT(SNAPSHOT => {sid})").to_pylist() == [{"id": 1}]
    engine.execute("CREATE OR REPLACE STREAM hnt_s ON TABLE hnt_t")
    engine.execute("INSERT INTO hnt_t VALUES (2)", query_id="hnt_insert")
    out = engine.execute("SELECT id, metadata$action AS act FROM hnt_s").to_pylist()
    assert out == [{"id": 2, "act": "INSERT"}]
    out = engine.execute("SELECT id FROM hnt_t BEFORE(STATEMENT => 'hnt_insert')").to_pylist()
    assert out == [{"id": 1}]
    engine.execute("DROP STREAM hnt_s; DROP TABLE hnt_t; UNDROP TABLE hnt_t")
    assert sorted(r["id"] for r in engine.execute("SELECT id FROM hnt_t").to_pylist()) == [1, 2]
    engine.execute("DROP TABLE hnt_t")


@pytest.mark.parametrize(
    "name, create",
    [
        ("orph_ice", "CREATE ICEBERG TABLE orph_ice AS SELECT 1 AS id"),
        ("orph_plain", "CREATE TABLE orph_plain AS SELECT 1 AS id"),
        ("orph_cols", "CREATE TABLE orph_cols (id INT)"),
    ],
)
def test_create_over_orphaned_table_dir(engine, monkeypatch, name, create):
    """A CREATE without OR REPLACE over a table directory no table of this
    engine owns (another process's leftover) reclaims it as the sole live
    engine of the warehouse, and fails while another engine shares it."""
    from universql_spark import warehouse_guard as wg

    root = engine._snap_root(name)
    leftover = os.path.join(root, "metadata", "v1.metadata.json")
    os.makedirs(os.path.dirname(leftover), exist_ok=True)
    with open(leftover, "w") as f:
        f.write("{}")
    monkeypatch.setattr(wg, "other_live_engines", lambda spark: [1])
    with pytest.raises(QueryError, match="already exists"):
        engine.execute(create)
    assert os.path.exists(leftover)
    monkeypatch.setattr(wg, "other_live_engines", lambda spark: [])
    engine.execute(create)
    assert engine.snap_tables[name].root == root
    assert engine.execute(f"SELECT COUNT(*) AS n FROM {name}").to_pylist()[0]["n"] in (0, 1)
    engine.execute(f"DROP TABLE {name}")


def test_create_under_a_renamed_tables_first_name(engine):
    """A renamed table keeps its storage under its first name; a new table
    of that name gets storage of its own instead of replacing it."""
    engine.execute("CREATE OR REPLACE ICEBERG TABLE rnr_a AS SELECT 1 AS id")
    engine.execute("ALTER TABLE rnr_a RENAME TO rnr_b")
    engine.execute("CREATE OR REPLACE ICEBERG TABLE rnr_a AS SELECT 2 AS id")
    assert engine.snap_tables["rnr_a"].root != engine.snap_tables["rnr_b"].root
    assert engine.execute("SELECT id FROM rnr_a").to_pylist() == [{"id": 2}]
    assert engine.execute("SELECT id FROM rnr_b").to_pylist() == [{"id": 1}]
    engine.execute("DROP TABLE rnr_a; DROP TABLE rnr_b")


def test_failed_create_leaves_no_table_dir(engine, monkeypatch):
    """A CREATE whose query fails while it is written leaves no table
    directory behind, so the next CREATE of the name needs no reclaiming,
    even while another engine shares the warehouse."""
    from universql_spark import warehouse_guard as wg

    import shutil

    t = "fcl_t"
    shutil.rmtree(engine._snap_root(t), ignore_errors=True)  # an earlier run's dropped table
    monkeypatch.setattr(wg, "other_live_engines", lambda spark: [1])
    with pytest.raises(QueryError, match="DIVIDE_BY_ZERO"):
        engine.execute(f"CREATE ICEBERG TABLE {t} AS SELECT 1 / (id - id) AS x FROM range(3) AS r(id)")
    assert t not in engine.snap_tables
    assert not os.path.exists(engine._snap_root(t))
    engine.execute(f"CREATE ICEBERG TABLE {t} AS SELECT 1 AS x")
    assert engine.execute(f"SELECT x FROM {t}").to_pylist() == [{"x": 1}]
    engine.execute(f"DROP TABLE {t}")


def test_temp_table_storage_ends_with_its_process():
    """A TEMP table's files belong to its engine process: they are gone
    once the process exits, while a plain table's stay."""
    import subprocess
    import sys
    import textwrap

    child = textwrap.dedent(
        """
        from universql_spark.engine import Engine
        from universql_spark.session import get_spark

        eng = Engine(spark=get_spark("temp_child", cpus=1))
        eng.execute("CREATE OR REPLACE TEMP TABLE tse_t AS SELECT 1 AS id")
        eng.execute("CREATE OR REPLACE TABLE tse_p AS SELECT 1 AS id")
        eng.execute("CREATE OR REPLACE TABLE tse_d AS SELECT 1 AS id")
        dropped = eng.snap_tables["tse_d"].root
        eng.execute("DROP TABLE tse_d")
        print(eng.snap_tables["tse_t"].root, eng.snap_tables["tse_p"].root, dropped)
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": repo}, check=True,
    ).stdout.split()
    temp_root, plain_root, dropped_root = out[-3:]
    assert not os.path.exists(temp_root)
    assert os.path.exists(plain_root)
    # UNDROP cannot outlive the engine, so neither do a dropped table's files
    assert not os.path.exists(dropped_root)


def test_parse_error_message_is_its_first_line(engine):
    """A Spark parse error reaches the client with its first non-blank
    line (ParseException text opens with a newline)."""
    with pytest.raises(QueryError) as err:
        engine.execute("SELEC 1")
    assert err.value.message.startswith("[PARSE_SYNTAX_ERROR]")
    assert engine.query_log[-1]["error_message"] == err.value.message


def test_iceberg_tables_report_as_tables(engine):
    """information_schema.tables and SHOW OBJECTS report Iceberg tables as
    tables, though each reads through a temp view of its name."""
    engine.execute("CREATE OR REPLACE ICEBERG TABLE rat_ice AS SELECT 1 AS id")
    engine.execute("CREATE OR REPLACE TABLE rat_plain AS SELECT 1 AS id")
    engine.execute("DELETE FROM rat_plain WHERE id = 0")
    engine.execute("CREATE OR REPLACE TEMP VIEW rat_view AS SELECT 1 AS id")
    rows = engine.execute(
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name LIKE 'RAT_%' ORDER BY table_name"
    ).to_pylist()
    assert [(r["table_name"], r["table_type"]) for r in rows] == [
        ("RAT_ICE", "BASE TABLE"), ("RAT_PLAIN", "BASE TABLE"), ("RAT_VIEW", "VIEW"),
    ]
    out = engine.execute("SHOW OBJECTS LIKE 'rat_%'").to_pydict()
    assert list(zip(out["name"], out["kind"])) == [
        ("RAT_ICE", "TABLE"), ("RAT_PLAIN", "TABLE"), ("RAT_VIEW", "VIEW"),
    ]
    engine.execute("DROP TABLE rat_ice; DROP TABLE rat_plain; DROP VIEW rat_view")


def test_insert_column_list_resolves_like_update(engine):
    """INSERT (cols) into an Iceberg table names its columns as UPDATE and
    MERGE do: case-insensitively, and an unknown name is an error, never a
    silently dropped value."""
    engine.execute("CREATE OR REPLACE ICEBERG TABLE icl_t AS SELECT 1 AS id, 'a' AS s")
    out = engine.execute("INSERT INTO icl_t (ID, \"S\") VALUES (2, 'b')").to_pylist()
    assert out == [{"number of rows inserted": 1}]
    with pytest.raises(QueryError, match="invalid identifier 'nosuch'"):
        engine.execute("INSERT INTO icl_t (id, nosuch) VALUES (3, 'c')")
    rows = engine.execute("SELECT id, s FROM icl_t ORDER BY id").to_pylist()
    assert rows == [{"id": 1, "s": "a"}, {"id": 2, "s": "b"}]
    engine.execute("DROP TABLE icl_t")


def test_procedure_unquoted_body(engine):
    """CREATE PROCEDURE ... AS BEGIN ...; END without $$ quoting (legal
    Snowflake): the statement splitter must not cut at the ';' inside the
    block, including nested IF ... END IF and CASE expressions."""
    out = engine.execute(
        "CREATE OR REPLACE PROCEDURE pu(a INT) RETURNS INT LANGUAGE SQL AS "
        "BEGIN LET b := a * 2; IF (b > 5) THEN RETURN b; END IF; RETURN 0; END; "
        "CALL pu(4)"
    ).to_pylist()
    assert out == [{"PU": "8"}]
    out2 = engine.execute(
        "CREATE OR REPLACE PROCEDURE pc() RETURNS INT AS "
        "BEGIN LET v := CASE WHEN 1 = 1 THEN 2 ELSE 3 END; RETURN v; END"
    )
    assert engine.execute("CALL pc()").to_pylist() == [{"PC": "2"}]


def test_windowed_within_group(engine):
    """ARRAY_AGG/LISTAGG WITHIN GROUP (ORDER BY ...) OVER (PARTITION BY ...):
    the within-group order moves into a full-frame window spec; DISTINCT
    (unsupported as a Spark distinct window agg) goes through
    array_distinct over the ordered collect."""
    rows = engine.execute(
        "SELECT DISTINCT user_id, "
        "ARRAY_AGG(DISTINCT event_type) WITHIN GROUP (ORDER BY event_type) "
        "OVER (PARTITION BY user_id) AS seq, "
        "LISTAGG(DISTINCT event_type, ',') WITHIN GROUP (ORDER BY event_type) "
        "OVER (PARTITION BY user_id) AS s "
        "FROM events WHERE user_id < 2 ORDER BY user_id"
    ).to_pylist()
    assert len(rows) == 2
    for r in rows:
        assert r["seq"] == sorted(r["seq"])
        assert r["s"] == ",".join(r["seq"])
    # non-distinct windowed form collects in the WITHIN GROUP order
    first = engine.execute(
        "SELECT DISTINCT user_id, "
        "ARRAY_AGG(ts) WITHIN GROUP (ORDER BY ts) OVER (PARTITION BY user_id) AS t "
        "FROM events WHERE user_id = 0"
    ).to_pylist()[0]["t"]
    assert first == sorted(first)


def test_time_type_surface(engine):
    """TIME spellings on the canonical 'HH:mm:ss' string mapping: ::TIME /
    CAST AS TIME / TO_TIME over timestamps / TO_TIME with format /
    TIMEADD over time values (wrapping past midnight, Snowflake's TIME
    arithmetic contract)."""
    out = engine.execute(
        "SELECT '10:30:00'::TIME AS a, CAST('10:30:00' AS TIME) AS b, "
        "TO_TIME('2024-01-05 23:45:10'::TIMESTAMP_NTZ) AS c, "
        "TO_TIME('10.30.15', 'HH24.MI.SS') AS d, "
        "TIMEADD('minute', 30, '23:45:00'::TIME) AS e, "
        "DATEADD('second', -90, TIME_FROM_PARTS(0, 1, 0)) AS f, "
        "'09:00:00'::TIME < '10:00:00'::TIME AS lt"
    ).to_pylist()[0]
    assert out == {
        "a": "10:30:00", "b": "10:30:00", "c": "23:45:10", "d": "10:30:15",
        "e": "00:15:00", "f": "23:59:30", "lt": True,
    }
    # TIMEADD over non-time targets keeps plain timestamp arithmetic
    ts = engine.execute("SELECT TIMEADD('day', 1, '2024-01-01'::DATE) AS t").to_pylist()[0]["t"]
    assert str(ts).startswith("2024-01-02")


def test_star_ilike_column_selection(engine):
    """SELECT [t.]* ILIKE 'pattern': Snowflake's pattern star — expanded
    engine-side from the FROM table's schema (escaped \\_ stays literal;
    alias qualifiers resolve through the FROM clause)."""
    out = engine.execute(
        "SELECT * ILIKE 'n_n%' FROM nation ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    assert set(out) == {"n_nationkey", "n_name"}
    out2 = engine.execute(
        "SELECT n.* ILIKE '%key' FROM nation n ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    assert set(out2) == {"n_nationkey", "n_regionkey"}
    # escaped \_ stays literal (the fixture lineitem carries l_shipdate)
    out3 = engine.execute("SELECT * ILIKE 'l\\_ship%' FROM lineitem LIMIT 1").to_pylist()[0]
    assert set(out3) == {"l_shipdate"}
    import pytest as _p

    from universql_spark.engine import QueryError as _QE

    with _p.raises(_QE, match="matches no columns"):
        engine.execute("SELECT * ILIKE 'zzz%' FROM nation")


def test_star_ilike_multiple_and_subquery_from(engine):
    """r9 ADVICE: a statement may carry several pattern stars, and a
    SELECT-list subquery's FROM must not be mistaken for the outer FROM."""
    out = engine.execute(
        "SELECT n.* ILIKE 'n_nat%', r.* ILIKE 'r_n%' "
        "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey "
        "ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    assert set(out) == {"n_nationkey", "r_name"}
    # pattern star whose FROM follows a scalar subquery in the SELECT list
    out2 = engine.execute(
        "SELECT (SELECT MAX(r_regionkey) FROM region) AS mx, * ILIKE 'n_name' "
        "FROM nation ORDER BY n_name LIMIT 1"
    ).to_pylist()[0]
    assert set(out2) == {"mx", "n_name"}
    assert out2["mx"] == 4


def test_star_ilike_literal_paren_before_from(engine):
    """r10 ADVICE: parens (and the word FROM) inside string literals between
    the pattern star and its FROM must not skew the depth count — the FROM
    locator runs on a literal-masked copy."""
    out = engine.execute(
        "SELECT * ILIKE 'n_n%', '(' AS lp, 'FROM x' AS f "
        "FROM nation ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    assert set(out) == {"n_nationkey", "n_name", "lp", "f"}
    assert out["lp"] == "(" and out["f"] == "FROM x"
    # alias resolution with a literal paren in the select list
    out2 = engine.execute(
        "SELECT n.* ILIKE '%key', ')' AS rp FROM nation n ORDER BY n_nationkey LIMIT 1"
    ).to_pylist()[0]
    assert set(out2) == {"n_nationkey", "n_regionkey", "rp"}


def test_try_cast_time_null_on_garbage(engine):
    """r9 ADVICE: TRY_CAST(x AS TIME) returns NULL on malformed input
    (Snowflake contract) while strict CAST raises."""
    out = engine.execute(
        "SELECT TRY_CAST('garbage' AS TIME) AS a, "
        "TRY_CAST('10:30:00' AS TIME) AS b, TRY_TO_TIME('nope') AS c"
    ).to_pylist()[0]
    assert out == {"a": None, "b": "10:30:00", "c": None}
    with pytest.raises(QueryError):
        engine.execute("SELECT CAST('garbage' AS TIME) AS a")


def test_split_statements_begin_end_identifiers():
    """r9 ADVICE: begin/end are not reserved in Snowflake — aliases and
    qualified refs named begin/end must not shift the scripting depth."""
    stmts = split_statements("SELECT ts AS begin FROM t; SELECT 2")
    assert len(stmts) == 2
    stmts = split_statements("SELECT t.end FROM t; SELECT 2")
    assert len(stmts) == 2
    stmts = split_statements("SELECT 1 AS end; SELECT CASE WHEN a THEN 1 END; SELECT 3")
    assert len(stmts) == 3
    # scripting blocks still hold together, including the $$-less
    # CREATE PROCEDURE ... AS BEGIN body with an alias named end inside
    stmts = split_statements(
        "CREATE PROCEDURE p() RETURNS INT LANGUAGE SQL AS BEGIN "
        "SELECT ts AS end FROM t; RETURN 1; END; SELECT 2"
    )
    assert len(stmts) == 2
    stmts = split_statements("BEGIN SELECT 1; SELECT 2; END; SELECT 3")
    assert len(stmts) == 2
    # transaction BEGIN stays a standalone statement
    stmts = split_statements("BEGIN; SELECT 1; COMMIT")
    assert len(stmts) == 3


def test_temp_insert_case_insensitive_columns(engine):
    """r9 ADVICE: INSERT INTO temp (V) must match uppercase table columns
    case-insensitively, and unknown names must raise."""
    engine.execute('CREATE TEMP TABLE t9ci AS SELECT 1 AS "V", 2 AS w')
    engine.execute("INSERT INTO t9ci (v) VALUES (10)")
    rows = engine.execute("SELECT * FROM t9ci ORDER BY w NULLS FIRST").to_pylist()
    assert rows[0]["V"] == 10 and rows[0]["w"] is None
    assert rows[1]["V"] == 1 and rows[1]["w"] == 2
    with pytest.raises((QueryError, ValueError), match="invalid identifier"):
        engine.execute("INSERT INTO t9ci (nope) VALUES (1)")
    engine.execute("DROP TABLE t9ci")


def test_prune_stale_resident_variants(tmp_path):
    """r10 ADVICE: superseded resident/bucketed variant dirs for the same
    table are garbage-collected when a new ident attaches; other tables'
    variants and in-flight tmp writes are untouched."""
    import os as _os

    from universql_spark.session import _prune_stale_variants

    parent = tmp_path / "sfX"
    for d in [
        "lineitem_bkt8_100_1",      # stale bucketed variant -> pruned
        "lineitem_bkt32_200_2",     # the one being attached -> kept
        "lineitem_bkt8_100_1.tmp-999",  # in-flight write -> kept
        "orders_bkt8_50_1",         # different table -> kept
        "lineitem-100-1",           # plain-resident namespace -> kept here
    ]:
        (parent / d).mkdir(parents=True)
    _prune_stale_variants(str(parent), "lineitem_bkt", "lineitem_bkt32_200_2")
    left = sorted(_os.listdir(parent))
    assert left == [
        "lineitem-100-1",
        "lineitem_bkt32_200_2",
        "lineitem_bkt8_100_1.tmp-999",
        "orders_bkt8_50_1",
    ]
    # plain-resident namespace prunes independently
    _prune_stale_variants(str(parent), "lineitem-", "lineitem-200-2")
    assert "lineitem-100-1" not in _os.listdir(parent)
    # nonexistent parent: no raise
    _prune_stale_variants(str(tmp_path / "nope"), "x", "y")


# -- persisted-result reuse (USE_CACHED_RESULT, r10) --------------------------


def test_result_reuse_repeated_select(engine):
    """A repeated identical SELECT is served from the retained result:
    values identical, the query log records a result_reuse entry, and the
    reused result stays RESULT_SCAN-addressable under its new query id."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    sql = "SELECT n_regionkey, COUNT(*) AS c FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"
    h0 = engine.result_cache_hits
    first = engine.execute(sql)
    again = engine.execute(sql)
    assert engine.result_cache_hits == h0 + 1
    assert again.to_pylist() == first.to_pylist()
    assert engine.query_log[-1].get("result_reuse") is True
    qid = engine.query_log[-1]["query_id"]
    scanned = engine.execute(f"SELECT * FROM table(RESULT_SCAN('{qid}'))")
    assert scanned.to_pylist() == first.to_pylist()


def test_result_reuse_invalidated_by_dml(engine):
    """Any non-read-only statement bumps the data version: the same SELECT
    re-executes afterward (no stale serve)."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("CREATE OR REPLACE TEMP TABLE rr_inv AS SELECT 1 AS v")
    sql = "SELECT SUM(v) AS s FROM rr_inv"
    assert engine.execute(sql).to_pylist() == [{"s": 1}]
    engine.execute(sql)  # now cached
    h = engine.result_cache_hits
    engine.execute("INSERT INTO rr_inv VALUES (41)")
    out = engine.execute(sql)
    assert out.to_pylist() == [{"s": 42}]
    assert engine.result_cache_hits == h  # recomputed, not served stale


def test_result_reuse_excludes_nondeterministic_and_variables(engine):
    """Execution-time functions and session-variable references never
    cache; two RANDOM() calls stay independent draws."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    h = engine.result_cache_hits
    engine.execute("SELECT RANDOM() AS r")
    engine.execute("SELECT RANDOM() AS r")
    engine.execute("SET rr_x = 7")
    engine.execute("SELECT $rr_x AS v")
    engine.execute("SELECT $rr_x AS v")
    assert engine.result_cache_hits == h
    # CURRENT_TIMESTAMP is execution-time: never reused
    engine.execute("SELECT CURRENT_TIMESTAMP() AS t")
    engine.execute("SELECT CURRENT_TIMESTAMP() AS t")
    assert engine.result_cache_hits == h


def test_result_reuse_session_parameter_off(engine):
    """ALTER SESSION SET USE_CACHED_RESULT = FALSE disables reuse (the
    Snowflake opt-out); re-enabling restores it under a fresh version."""
    sql = "SELECT COUNT(*) AS c FROM region"
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = FALSE")
    h = engine.result_cache_hits
    engine.execute(sql)
    engine.execute(sql)
    assert engine.result_cache_hits == h
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute(sql)
    engine.execute(sql)
    assert engine.result_cache_hits == h + 1


def test_result_reuse_stream_reads_never_cached(engine):
    """Reading a STREAM re-reads the live delta — never served from the
    result cache even when the text repeats."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("CREATE OR REPLACE ICEBERG TABLE rr_src AS SELECT 1 AS v")
    engine.execute("CREATE OR REPLACE STREAM rr_stream ON TABLE rr_src")
    h = engine.result_cache_hits
    a = engine.execute("SELECT COUNT(*) AS c FROM rr_stream")
    b = engine.execute("SELECT COUNT(*) AS c FROM rr_stream")
    assert a.to_pylist() == b.to_pylist() == [{"c": 0}]
    assert engine.result_cache_hits == h
    engine.execute("DROP STREAM rr_stream")
    engine.execute("DROP TABLE rr_src")


def _reuses(engine, sql: str, session=None) -> tuple[list[dict], bool]:
    """(rows, whether they came from the result cache)."""
    h = engine.result_cache_hits
    rows = engine.execute(sql, session=session).to_pylist()
    return rows, engine.result_cache_hits == h + 1


def test_result_reuse_view_over_table_runs_again_after_each_write(engine):
    """A TEMP VIEW over an Iceberg table is reused until a write to the base
    table: INSERT, UPDATE, DELETE and MERGE each make it run again."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("CREATE OR REPLACE TABLE rr_vbase AS SELECT 1 AS k, 10 AS v")
    engine.execute("CREATE OR REPLACE TEMP VIEW rr_vview AS SELECT SUM(v) AS s, COUNT(*) AS n FROM rr_vbase")
    sql = "SELECT s, n FROM rr_vview"
    engine.execute(sql)
    for write, expected in (
        ("INSERT INTO rr_vbase VALUES (2, 20)", {"s": 30, "n": 2}),
        ("UPDATE rr_vbase SET v = v + 1 WHERE k = 1", {"s": 31, "n": 2}),
        ("DELETE FROM rr_vbase WHERE k = 2", {"s": 11, "n": 1}),
        (
            "MERGE INTO rr_vbase t USING (SELECT 3 AS k, 5 AS v) s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
            {"s": 16, "n": 2},
        ),
    ):
        assert _reuses(engine, sql)[1], write
        engine.execute(write)
        assert _reuses(engine, sql) == ([expected], False), write
    engine.execute("DROP VIEW rr_vview; DROP TABLE rr_vbase")


def test_result_reuse_write_keeps_other_tables_results(engine):
    """A write to one table invalidates only the results that read it:
    cached reads of another Iceberg table and of a fixture table stay hits."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("CREATE OR REPLACE TABLE rr_ta AS SELECT 1 AS v; CREATE OR REPLACE TABLE rr_tb AS SELECT 2 AS v")
    read_a, others = "SELECT SUM(v) AS s FROM rr_ta", ("SELECT SUM(v) AS s FROM rr_tb", "SELECT COUNT(*) AS c FROM nation")
    for sql in (read_a, *others):
        engine.execute(sql)
    engine.execute("INSERT INTO rr_ta VALUES (5)")
    assert [_reuses(engine, sql) for sql in others] == [([{"s": 2}], True), ([{"c": 25}], True)]
    assert _reuses(engine, read_a) == ([{"s": 6}], False)
    engine.execute("DROP TABLE rr_ta; DROP TABLE rr_tb")


def test_result_reuse_invalidated_by_another_sessions_write(engine):
    """Results are shared across sessions, and so is their invalidation: a
    write from one session makes another session's cached read run again."""
    home = engine.session
    s1, s2 = engine.new_session(), engine.new_session()
    try:
        engine.execute("CREATE OR REPLACE TABLE rr_sx AS SELECT 1 AS v", session=s1)
        sql = "SELECT SUM(v) AS s FROM rr_sx"
        engine.execute(sql, session=s1)
        assert _reuses(engine, sql, s1)[1]
        engine.execute("INSERT INTO rr_sx VALUES (5)", session=s2)
        assert _reuses(engine, sql, s1) == ([{"s": 6}], False)
        engine.execute("DROP TABLE rr_sx", session=s1)
    finally:
        engine._enter(home)


def test_result_reuse_after_recreate_and_role_change(engine):
    """DROP then CREATE OR REPLACE of the same name runs the read again, and
    so does a row-access-policied table's read across USE ROLE."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE; USE ROLE ACCOUNTADMIN")
    engine.execute("CREATE OR REPLACE TABLE rr_rc AS SELECT 1 AS v")
    sql = "SELECT SUM(v) AS s FROM rr_rc"
    engine.execute(sql)
    engine.execute("DROP TABLE rr_rc")
    engine.execute("CREATE OR REPLACE TABLE rr_rc AS SELECT 7 AS v")
    assert _reuses(engine, sql) == ([{"s": 7}], False)
    engine.execute(
        "CREATE OR REPLACE TABLE rr_pol_t AS SELECT 'ANALYST' AS owner, 1 AS v "
        "UNION ALL SELECT 'ACCOUNTADMIN', 2;"
        "CREATE OR REPLACE ROW ACCESS POLICY rr_pol AS (o STRING) RETURNS BOOLEAN -> o = CURRENT_ROLE();"
        "ALTER TABLE rr_pol_t ADD ROW ACCESS POLICY rr_pol ON (owner)"
    )
    sql = "SELECT SUM(v) AS s FROM rr_pol_t"
    try:
        engine.execute(sql)
        assert _reuses(engine, sql) == ([{"s": 2}], True)
        engine.execute("USE ROLE analyst")
        assert _reuses(engine, sql) == ([{"s": 1}], False)
        engine.execute("USE ROLE ACCOUNTADMIN")
        assert _reuses(engine, sql) == ([{"s": 2}], False)
    finally:
        engine.execute("USE ROLE ACCOUNTADMIN")
    engine.execute("ALTER TABLE rr_pol_t DROP ROW ACCESS POLICY rr_pol; DROP TABLE rr_pol_t; DROP TABLE rr_rc")


def test_result_reuse_keys_on_role(engine):
    """CURRENT_ROLE() answers per role: after USE ROLE the read runs again."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE; USE ROLE ACCOUNTADMIN")
    sql = "SELECT CURRENT_ROLE() AS r, IS_ROLE_IN_SESSION('ANALYST') AS a"
    engine.execute(sql)
    try:
        engine.execute("USE ROLE analyst")
        assert _reuses(engine, sql) == ([{"r": "ANALYST", "a": True}], False)
    finally:
        engine.execute("USE ROLE ACCOUNTADMIN")


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT COUNT(*) AS c FROM rr_hist AT(OFFSET => 0)",
        "SELECT COUNT(*) AS c FROM information_schema.tables WHERE table_name = 'RR_HIST'",
        "SELECT COUNT(*) AS c FROM rr_hist_dyn",
    ],
    ids=["at_offset", "information_schema", "lagged_dynamic_table"],
)
def test_result_reuse_never_for_history_or_information_schema(engine, sql):
    """Time travel reads a table's history, INFORMATION_SCHEMA reports
    table state through scratch views, and a dynamic table with a
    TARGET_LAG refreshes on read: none is keyed on a snapshot view alone,
    so none is reused."""
    engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("CREATE OR REPLACE TABLE rr_hist AS SELECT 1 AS v; INSERT INTO rr_hist VALUES (2)")
    engine.execute(
        "CREATE OR REPLACE DYNAMIC TABLE rr_hist_dyn TARGET_LAG = '1 hour' WAREHOUSE = compute_xs "
        "AS SELECT v FROM rr_hist"
    )
    first = engine.execute(sql).to_pylist()
    assert _reuses(engine, sql) == (first, False)
    engine.execute("DROP TABLE rr_hist_dyn; DROP TABLE rr_hist")


def test_result_reuse_off_reads_no_plan(engine, monkeypatch):
    """With USE_CACHED_RESULT = FALSE a SELECT reads no plan dependencies;
    with reuse on, a cacheable miss reads them once."""
    engine.execute("CREATE OR REPLACE TABLE rr_off AS SELECT 1 AS v")
    calls = []
    real = engine._plan_views
    monkeypatch.setattr(engine, "_plan_views", lambda df: calls.append(1) or real(df))
    try:
        engine.execute("ALTER SESSION SET USE_CACHED_RESULT = FALSE")
        engine.execute("SELECT SUM(v) AS s FROM rr_off")
        assert calls == []
        engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
        engine.execute("SELECT SUM(v) AS s FROM rr_off")
        assert calls == [1]
    finally:
        engine.execute("ALTER SESSION SET USE_CACHED_RESULT = TRUE")
    engine.execute("DROP TABLE rr_off")


# -- query_log: one bounded record per statement --------------------------------


def test_failed_statement_recorded_and_in_query_history(engine):
    """A failed statement leaves a FAILED_WITH_ERROR record carrying its
    message and SQLSTATE, and shows in INFORMATION_SCHEMA.QUERY_HISTORY."""
    with pytest.raises(QueryError) as err:
        engine.execute("SELECT * FROM qlog_no_such_table")
    rec = engine.query_log[-1]
    assert rec["sql"] == "SELECT * FROM qlog_no_such_table"
    assert rec["status"] == "FAILED_WITH_ERROR"
    assert rec["error_message"] == err.value.message and rec["sql_state"] == err.value.sql_state
    rows = engine.execute(
        "SELECT QUERY_ID, QUERY_TEXT FROM TABLE(INFORMATION_SCHEMA.QUERY_HISTORY())"
    ).to_pylist()
    assert {"QUERY_ID": rec["query_id"], "QUERY_TEXT": "SELECT * FROM qlog_no_such_table"} in rows


def test_caller_query_id_names_the_last_statement_run(engine):
    engine.execute("SELECT 1 AS a; SELECT 2 AS b", query_id="qlog-caller-1")
    first, last = list(engine.query_log)[-2:]
    assert last["query_id"] == "qlog-caller-1" and first["query_id"] != "qlog-caller-1"
    # a failure stops the call: the failing statement is its last one
    with pytest.raises(QueryError):
        engine.execute("SELECT 3 AS c; SELECT * FROM qlog_missing; SELECT 4 AS d", query_id="qlog-caller-2")
    assert engine.query_log[-1]["query_id"] == "qlog-caller-2"
    assert engine.query_log[-1]["status"] == "FAILED_WITH_ERROR"


def test_query_log_keeps_last_100_and_forgets_evicted_ids(engine):
    engine.execute("SELECT 'qlog-oldest' AS v")
    oldest = engine.query_log[-1]["query_id"]
    assert engine.execute(f"SELECT v FROM TABLE(RESULT_SCAN('{oldest}'))").to_pylist() == [
        {"v": "qlog-oldest"}
    ]
    engine.execute("; ".join(f"SELECT {i} AS qlog_v" for i in range(100)))
    assert len(engine.query_log) == 100
    with pytest.raises(QueryError, match="unknown query id"):
        engine.execute(f"SELECT v FROM TABLE(RESULT_SCAN('{oldest}'))")
