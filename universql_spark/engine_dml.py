"""DELETE / UPDATE / MERGE: one evaluation for every table kind.

The reference's README support matrix declares MERGE/DELETE (SURVEY.md §2.2;
its own tests for them are all @skip — transform.py:6-25) and keeps every
table as a catalog-managed Iceberg table (warehouse/duckdb.py:274-334). Here
a statement is parsed, its target columns resolved and its new rows derived
once, whatever the target; only the final write depends on the table kind:

**Snapshot tables** (`tableformat.SnapshotTable`) — Iceberg v2 tables:
`CREATE ICEBERG TABLE`, every unqualified `CREATE TABLE ... PARTITION BY |
CLUSTER BY ... AS` (identity partition spec or sort order), and plain
unpartitioned tables, adopted on their first DML. File-granular
copy-on-write: one grouped targeting job finds the data files holding
matched rows (a partitioned table's files each hold one partition tuple),
and only those are rewritten, with a MERGE's inserts, in one commit.

**Relations** (`Relation`) — targets that stay plain: qualified
`db.schema.t` catalog tables, TEMP tables, and tables adoption refuses
(Spark-DDL `PARTITIONED BY` tables among them). The statement computes the
table's whole new contents and `Relation.replace` swaps them in: a shadow
table + DROP/RENAME for a catalog table (`_replace_table`, which keeps its
partition columns), a re-materialized temp view for a TEMP table. Values
are cast to the columns' types, so a Relation's schema never changes.

Rules written once, here, for both:
  - DELETE keeps the rows whose condition is NULL (`NOT coalesce(c, false)`);
  - a target column name (UPDATE SET, MERGE UPDATE SET, MERGE INSERT (cols))
    matches the table's columns case-insensitively, an unknown one is a
    QueryError, and each value takes its column's type (`_typed_values`);
  - WHEN clauses are parsed paren- and CASE-aware, and text no clause
    consumes is an error.

Supported grammar (documented subset, QueryError beyond it):
  DELETE FROM t WHERE <cond>
  UPDATE t SET c1 = e1[, c2 = e2 ...] [WHERE <cond>]
  MERGE INTO t [AS] ta USING { s | (<subquery>) } [AS] sa ON <cond>
    { WHEN MATCHED [AND <cond>] THEN { UPDATE SET c = e, ... | DELETE } }*
    { WHEN NOT MATCHED [AND <cond>] THEN INSERT (cols) VALUES (exprs) | INSERT * }*
with SQL-standard first-true-clause-wins dispatch across multiple WHEN
clauses of either kind.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from universql_spark.dialect import _STRING_RE, _match_paren, _split_top_args
from universql_spark.names import bare_name
from universql_spark.tableformat import (
    NondeterministicMergeError,
    _promotion,
    apply_assignments,
    delete_survivors,
    estimated_bytes,
    merged_rows,
)

_DELETE_RE = re.compile(r"^\s*DELETE\s+FROM\s+([\w.\"]+)(?:\s+WHERE\s+(.*))?$", re.I | re.S)
_UPDATE_RE = re.compile(r"^\s*UPDATE\s+([\w.\"]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$", re.I | re.S)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.\"]+)(?:\s+AS)?(?:\s+(\w+))?\s+USING\s+([\w.\"]+)(?:\s+AS)?(?:\s+(\w+))?"
    r"\s+ON\b\s*(.*)$",
    re.I | re.S,
)
_USING_PAREN_RE = re.compile(r"\bUSING\s*\(", re.I)
#: words that structure a WHEN-clause list, and parentheses (depth)
_CLAUSE_TOKEN_RE = re.compile(r"[()]|\b(?:CASE|END|WHEN|THEN)\b", re.I)
_WHEN_HEAD_RE = re.compile(r"^WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\b\s*(.*?))?\s*$", re.I | re.S)


def _error(message: str) -> Exception:
    from universql_spark.engine import QueryError  # noqa: PLC0415

    return QueryError(message)


def _lift_subquery_source(spark: SparkSession, stmt: str) -> str:
    """`MERGE INTO t USING (SELECT ...) s ON ...` -> materialize the
    inline source as a temp view so the named-source grammar applies. The
    subquery arrives already dialect-transpiled (the engine rewrites the
    whole statement before dispatch), so spark.sql can plan it directly."""
    m = _USING_PAREN_RE.search(stmt)
    if not m:
        return stmt
    open_idx = m.end() - 1
    close = _match_paren(stmt, open_idx)
    inner = stmt[open_idx + 1 : close].strip()
    view = f"__merge_src_{abs(hash(inner)) % 10**8}"
    spark.sql(inner).createOrReplaceTempView(view)
    return f"{stmt[:m.start()]}USING {view} {stmt[close + 1:]}"


# ---------------------------------------------------------------------------
# target columns
# ---------------------------------------------------------------------------


def _target_columns(columns: list[str], pairs: list[tuple[str, str]], what: str) -> dict[str, str]:
    """[(name, value)] -> {table column: value}. Names match the target's
    columns case-insensitively (Snowflake identifiers); an unknown name is
    a QueryError, never a silently dropped assignment."""
    by_lower = {c.lower(): c for c in columns}
    out = {}
    for name, value in pairs:
        col = by_lower.get(name.strip().strip('"`').lower())
        if col is None:
            raise _error(f"{what}: invalid identifier '{name.strip()}'")
        out[col] = value
    return out


def _split_assignments(s: str) -> list[tuple[str, str]]:
    """'a = x, b = f(y, z)' -> [(a, x), (b, f(y, z))] — comma split at depth
    0 outside literals."""
    out = []
    for part in _split_top_args(s):
        col, eq, expr = part.partition("=")
        if not eq:
            raise _error(f"cannot parse assignment '{part.strip()}'")
        out.append((col.strip(), expr.strip()))
    return out


def _typed_values(
    frame: DataFrame, values: dict[str, str], schema: T.StructType, promote: bool
) -> dict[str, str]:
    """Each assigned value (SQL text, evaluated over `frame`) in its target
    column's type. With `promote` (a snapshot-table target), a value whose
    type is a legal Iceberg promotion of the column's (int -> long, float ->
    double, wider decimal) keeps it: the write promotes the column
    (SnapshotTable._conform). Any other value is cast, so a Relation's
    columns keep their types."""
    if not values:
        return values
    got = frame.select(*[F.expr(v).alias(c) for c, v in values.items()]).schema
    want = {f.name: f.dataType for f in schema.fields}
    return {
        f.name: values[f.name]
        if f.dataType == want[f.name] or (promote and _promotion(want[f.name], f.dataType))
        else f"CAST(({values[f.name]}) AS {want[f.name].simpleString()})"
        for f in got.fields
    }


# ---------------------------------------------------------------------------
# MERGE WHEN clauses
# ---------------------------------------------------------------------------


def _clause_starts(text: str) -> tuple[list[int], list[int]]:
    """Offsets of the WHEN and THEN keywords that structure a clause list:
    outside literals, parentheses and CASE ... END."""
    masked = _STRING_RE.sub(lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", text)
    depth = case = 0
    whens: list[int] = []
    thens: list[int] = []
    for m in _CLAUSE_TOKEN_RE.finditer(masked):
        tok = m.group(0).upper()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth:
            continue
        elif tok == "CASE":
            case += 1
        elif tok == "END":
            case -= 1
        elif not case:
            (whens if tok == "WHEN" else thens).append(m.start())
    return whens, thens


def _split_on_clause(text: str) -> tuple[str, str]:
    """'<on cond> WHEN ...' -> (on cond, clause list)."""
    whens, _thens = _clause_starts(text)
    if not whens:
        raise _error("MERGE needs at least one WHEN clause")
    return text[: whens[0]].strip(), text[whens[0] :]


def _insert_action(action: str, columns: list[str]) -> dict[str, str]:
    """'INSERT (cols) VALUES (vals)' -> {table column: value};
    'INSERT *' -> every column from the same-named source column."""
    rest = action[len("INSERT") :].lstrip()
    if rest == "*":
        return {c: f"`{c}`" for c in columns}
    if rest.startswith("("):
        close = _match_paren(rest, 0)
        names, rest = _split_top_args(rest[1:close]), rest[close + 1 :].lstrip()
        vm = re.match(r"VALUES\s*\(", rest, re.I)
        if vm:
            close = _match_paren(rest, vm.end() - 1)
            vals, rest = _split_top_args(rest[vm.end() : close]), rest[close + 1 :].strip()
            if not rest and len(names) == len(vals):
                return _target_columns(
                    columns, list(zip(names, (v.strip() for v in vals))), "MERGE INSERT"
                )
    raise _error(f"unsupported MERGE insert action: {action[:80]}")


def _parse_when_clauses(text: str, columns: list[str]) -> tuple[list, list]:
    """Ordered clause lists with target columns resolved: matched ->
    (cond|None, {column: value} | None for DELETE), not-matched ->
    (cond|None, {column: value})."""
    whens, thens = _clause_starts(text)
    matched: list[tuple[str | None, dict[str, str] | None]] = []
    inserts: list[tuple[str | None, dict[str, str]]] = []
    for start, end in zip(whens, whens[1:] + [len(text)]):
        then = next((t for t in thens if start < t < end), None)
        head = _WHEN_HEAD_RE.match(text[start:then]) if then is not None else None
        if head is None:
            raise _error(f"cannot parse MERGE clause: {text[start:end].strip()[:80]}")
        cond = head.group(2)
        action = text[then + len("THEN") : end].strip()
        if head.group(1):
            if not re.match(r"INSERT\b", action, re.I):
                raise _error(f"unsupported MERGE insert action: {action[:80]}")
            inserts.append((cond, _insert_action(action, columns)))
        elif action.upper() == "DELETE":
            matched.append((cond, None))
        else:
            um = re.match(r"UPDATE\s+SET\s+(.*)$", action, re.I | re.S)
            if not um:
                raise _error(f"unsupported MERGE matched action: {action[:80]}")
            pairs = _split_assignments(um.group(1))
            matched.append((cond, _target_columns(columns, pairs, "MERGE UPDATE")))
    return matched, inserts


def _fired(conds: list[str | None]) -> list:
    """Per clause: it holds and no earlier one did (first true wins)."""
    out, prior = [], F.lit(False)
    for c in conds:
        holds = F.coalesce(F.expr(c), F.lit(False)) if c else F.lit(True)
        out.append(holds & ~prior)
        prior = prior | holds
    return out


def _matched_result_df(
    tgt: DataFrame, source: DataFrame, cond, t_alias: str, matched_clauses: list, promote: bool
) -> DataFrame:
    """Matched rows after clause application: the first true clause wins —
    UPDATE rewrites the row, DELETE drops it, no true clause keeps it."""
    joined = tgt.join(source, cond, "inner")
    fired = _fired([c for c, _a in matched_clauses])
    deleted = [f for f, (_c, a) in zip(fired, matched_clauses) if a is None]
    keep = ~reduce(lambda a, b: a | b, deleted, F.lit(False))
    typed = [
        _typed_values(joined, a, tgt.schema, promote) if a else {} for _c, a in matched_clauses
    ]
    out_cols = []
    for col in tgt.columns:
        expr = F.col(f"{t_alias}.{col}")
        for f, a in reversed(list(zip(fired, typed))):
            if col in a:
                expr = F.when(f, F.expr(a[col])).otherwise(expr)
        out_cols.append(expr.alias(col))
    return joined.filter(keep).select(*out_cols)


def _inserts_df(
    target: DataFrame, source: DataFrame, cond, insert_clauses: list, promote: bool
) -> DataFrame:
    """Unmatched source rows routed to the first not-matched clause whose
    AND-condition holds; a column the INSERT list leaves out is a NULL of
    the column's type."""
    unmatched = source.join(target, cond, "left_anti")
    pieces = []
    for f, (_c, values) in zip(_fired([c for c, _v in insert_clauses]), insert_clauses):
        typed = _typed_values(unmatched, values, target.schema, promote)
        pieces.append(
            unmatched.filter(f).select(
                *[
                    F.expr(typed[c.name]).alias(c.name)
                    if c.name in typed
                    else F.lit(None).cast(c.dataType).alias(c.name)
                    for c in target.schema.fields
                ]
            )
        )
    return reduce(DataFrame.unionByName, pieces)


# ---------------------------------------------------------------------------
# whole-relation targets
# ---------------------------------------------------------------------------


def _replace_table(spark: SparkSession, table: str, new_df: DataFrame) -> None:
    """Shadow-write + swap: never reads and overwrites the same files. The
    shadow keeps the table's Hive partition columns (a Spark-DDL
    `PARTITIONED BY` table, which adoption refuses)."""
    from . import warehouse_guard  # noqa: PLC0415

    warehouse_guard.register_process(spark)
    shadow = f"{table}__dml_shadow"
    pcols = [c.name for c in spark.catalog.listColumns(table) if c.isPartition]
    writer = new_df.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    try:
        writer.saveAsTable(shadow)
    except Exception as e:
        # crash recovery: a process killed mid-swap leaves the shadow's
        # LOCATION on disk with no catalog entry — Spark then refuses the
        # managed write with LOCATION_ALREADY_EXISTS. Reclaim ONLY the
        # error-reported location (correct for qualified db.tbl names,
        # whose dir is not {warehouse}/{name}) — never the blind
        # {warehouse}/{shadow} pre-rmtree ADVICE r7 flagged, which could
        # hit a concurrent process's unrelated live table.
        lm = re.search(r"location 'file:([^']+)'", str(e))
        if (
            "LOCATION_ALREADY_EXISTS" not in str(e)
            or not lm
            # owned=True: the shadow name derives from a table THIS
            # process's catalog owns, and the swap holds replace semantics
            # over it — an on-disk leftover at that exact location is a
            # crash orphan (or another process's IN-FLIGHT shadow of the
            # same-named table, i.e. an already-unsafe concurrent DML on
            # one table; reclaiming fails its statement, never its data)
            or not warehouse_guard.reclaim_orphan(spark, lm.group(1), owned=True)
        ):
            raise
        writer.saveAsTable(shadow)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {shadow} RENAME TO {table}")
    if pcols:
        # the catalog's partitions still point into the shadow's directory
        spark.sql(f"REPAIR TABLE {table} SYNC PARTITIONS")


def _check_deterministic(target: DataFrame, source: DataFrame, cond) -> None:
    """Snowflake default ERROR_ON_NONDETERMINISTIC_MERGE=TRUE: a target row
    matched by >1 source row is an error, not a silent duplicate (the inner
    join would otherwise emit it once per source row)."""
    rid = target.withColumn("__t_rid", F.monotonically_increasing_id())
    dup = (
        rid.join(source, cond, "inner")
        .groupBy("__t_rid")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise NondeterministicMergeError(
            "MERGE: a target row matches more than one source row "
            "(ERROR_ON_NONDETERMINISTIC_MERGE)"
        )


class Relation:
    """A DML target kept as one relation: each statement derives the
    table's whole new contents and `replace` swaps them in. Same operations
    and results as a SnapshotTable's, with no file count (None)."""

    def __init__(self, name: str, replace: Callable[[DataFrame], None]):
        self.name = name
        self.replace = replace

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.name)

    def row_count(self, spark: SparkSession) -> int:
        return self.read(spark).count()

    def delete_where(self, spark: SparkSession, match, cond_str: str | None = None):
        df = self.read(spark)
        n = df.filter(match).count()
        if n:
            self.replace(delete_survivors(df, match))
        return n, None

    def update_where(self, spark: SparkSession, match, assign_exprs: dict[str, str], cond_str=None):
        df = self.read(spark)
        n = df.filter(match).count()
        if n:
            self.replace(apply_assignments(df, match, assign_exprs))
        return n, None

    def merge_apply(self, spark, source, cond, t_alias, matched_result, inserts, insert_bytes=None):
        out = target = self.read(spark).alias(t_alias)
        if matched_result is not None:
            _check_deterministic(target, source, cond)
            out = merged_rows(target, source, cond, matched_result)
        n_ins = 0
        if inserts is not None:
            n_ins = inserts.count()
            out = out.unionByName(inserts)
        self.replace(out)
        return n_ins, None


# ---------------------------------------------------------------------------
# statements
# ---------------------------------------------------------------------------


def _result(n_files: int | None, **counts: int) -> pa.Table:
    if n_files is not None:
        counts["files_rewritten"] = n_files
    return pa.table({k: [v] for k, v in counts.items()})


def execute_delete(spark: SparkSession, stmt: str, table) -> pa.Table:
    cond = _DELETE_RE.match(stmt).group(2)
    match = F.expr(cond) if cond else F.lit(True)
    # cond_str lets a snapshot table prune candidate files from manifest bounds
    n, n_files = table.delete_where(spark, match, cond_str=cond)
    return _result(n_files, rows_deleted=n)


def execute_update(spark: SparkSession, stmt: str, table) -> pa.Table:
    m = _UPDATE_RE.match(stmt)
    tdf = table.read(spark)
    pairs = _split_assignments(m.group(2))
    assign = _typed_values(
        tdf, _target_columns(tdf.columns, pairs, "UPDATE"), tdf.schema,
        promote=not isinstance(table, Relation),
    )
    cond = m.group(3)
    match = F.expr(cond) if cond else F.lit(True)
    n, n_files = table.update_where(spark, match, assign, cond_str=cond)
    return _result(n_files, rows_updated=n)


def execute_merge(spark: SparkSession, stmt: str, table, read_table) -> pa.Table:
    """MERGE with a named source (the engine lifts an inline subquery
    first). On a snapshot table `merge_apply` runs one targeting job (the
    target-source join grouped by data file; a target row matched twice is
    ERROR_ON_NONDETERMINISTIC_MERGE) and one write: the files holding
    matched rows, rewritten together with the inserts and sized by the
    source's plan estimate."""
    m = _MERGE_RE.match(stmt)
    if not m:
        raise _error(f"unsupported MERGE syntax: {stmt[:120]}")
    t_alias = m.group(2) or bare_name(m.group(1))
    s_alias = m.group(4) or bare_name(m.group(3))
    on_cond, clauses = _split_on_clause(m.group(5))

    source = read_table(m.group(3)).alias(s_alias)
    cond = F.expr(on_cond)
    target = table.read(spark).alias(t_alias)
    matched_clauses, insert_clauses = _parse_when_clauses(clauses, target.columns)
    promote = not isinstance(table, Relation)
    inserts = (
        _inserts_df(target, source, cond, insert_clauses, promote) if insert_clauses else None
    )
    matched_result = None
    if matched_clauses:
        matched_result = lambda sub: _matched_result_df(  # noqa: E731
            sub, source, cond, t_alias, matched_clauses, promote
        )
    n_ins, n_files = table.merge_apply(
        spark, source, cond, t_alias, matched_result, inserts,
        insert_bytes=estimated_bytes(source) if inserts is not None else None,
    )
    return _result(n_files, rows_affected=table.row_count(spark), rows_inserted=n_ins)
