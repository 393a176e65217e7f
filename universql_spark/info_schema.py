"""information_schema emulation over the Spark catalog.

JDBC/ODBC clients and BI tools issue `information_schema` metadata queries at
connect time; the reference serves them through fakesnow's emulated views on
DuckDB (`/root/reference/universql/warehouse/duckdb.py:212-214`,
fakesnow `info_schema.creation_sql`). Here the Spark catalog IS the catalog,
so the views are materialized on demand as driver-side temp views (catalog
RPCs only — never a data scan) and `information_schema.X` references are
rewritten to them.

Name model: Spark database `db__schema` (the engine's qualified-name
mangling, names.py) maps back to (DATABASE, SCHEMA); the `default` database
is surfaced as schema PUBLIC of the session's current database, matching the
Snowflake default-namespace convention. Identifiers are uppercased in the
emitted rows — Snowflake's information_schema is uppercase — while matching
stays case-insensitive (spark.sql.caseSensitive=false).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

_INFO_RE = re.compile(r"\binformation_schema\s*\.\s*(\w+)", re.I)

#: Spark simpleString dtype -> Snowflake-style DATA_TYPE
_TYPE_MAP = [
    (re.compile(r"^decimal\((\d+),(\d+)\)$"), lambda m: f"NUMBER({m.group(1)},{m.group(2)})"),
    (re.compile(r"^(tinyint|smallint|int|bigint)$"), lambda m: "NUMBER(38,0)"),
    (re.compile(r"^(float|double)$"), lambda m: "FLOAT"),
    (re.compile(r"^string$"), lambda m: "TEXT"),
    (re.compile(r"^boolean$"), lambda m: "BOOLEAN"),
    (re.compile(r"^date$"), lambda m: "DATE"),
    (re.compile(r"^timestamp_ntz$"), lambda m: "TIMESTAMP_NTZ"),
    (re.compile(r"^timestamp$"), lambda m: "TIMESTAMP_LTZ"),
    (re.compile(r"^binary$"), lambda m: "BINARY"),
    (re.compile(r"^array<.*>$", re.S), lambda m: "ARRAY"),
    (re.compile(r"^(struct|map)<.*>$", re.S), lambda m: "OBJECT"),
]


def _sf_type(dtype: str) -> str:
    d = dtype.strip().lower()
    for pat, fn in _TYPE_MAP:
        m = pat.match(d)
        if m:
            return fn(m)
    return d.upper()


def _namespaces(spark: SparkSession, default_catalog: str) -> list[tuple[str, str, str]]:
    """(spark_db, CATALOG, SCHEMA) for every Spark database."""
    out = []
    for db in spark.catalog.listDatabases():
        if "__" in db.name:
            cat, _, sch = db.name.partition("__")
            out.append((db.name, cat.upper(), sch.upper()))
        elif db.name == "default":
            out.append((db.name, default_catalog.upper(), "PUBLIC"))
        else:
            out.append((db.name, default_catalog.upper(), db.name.upper()))
    return out


def register_views(
    spark: SparkSession, kinds: set[str], default_catalog: str, table_views: set[str]
) -> None:
    """Materialize the requested information_schema views as temp views.
    `table_views`: the temp views that are tables (an Iceberg table reads
    through a temp view of its name). Catalog listings only, no Spark job;
    cost is one catalog RPC per database (+ one per table for `columns`)."""
    ns = _namespaces(spark, default_catalog)
    if "schemata" in kinds:
        spark.createDataFrame(
            [(cat, sch) for _db, cat, sch in ns],
            "CATALOG_NAME string, SCHEMA_NAME string",
        ).createOrReplaceTempView("information_schema__schemata")
    if "databases" in kinds:
        spark.createDataFrame(
            sorted({(cat,) for _db, cat, _sch in ns}),
            "DATABASE_NAME string",
        ).createOrReplaceTempView("information_schema__databases")
    if kinds & {"tables", "views", "columns"}:
        tables: list[tuple[str, str, str, str, str]] = []  # +spark-side name
        for db, cat, sch in ns:
            for t in spark.catalog.listTables(db):
                if t.tableType == "TEMPORARY" and db != ns[0][0]:
                    continue  # temp views are global; list them once
                view = t.tableType in ("VIEW", "TEMPORARY") and t.name not in table_views
                ttype = "VIEW" if view else "BASE TABLE"
                tcat, tsch = (cat, sch) if t.database else (default_catalog.upper(), "PUBLIC")
                qual = f"{t.database}.{t.name}" if t.database else t.name
                tables.append((tcat, tsch, t.name.upper(), ttype, qual))
        if "tables" in kinds:
            spark.createDataFrame(
                [r[:4] for r in tables],
                "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, TABLE_TYPE string",
            ).createOrReplaceTempView("information_schema__tables")
        if "views" in kinds:
            spark.createDataFrame(
                [r[:3] for r in tables if r[3] == "VIEW"] or [("", "", "")],
                "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string",
            ).createOrReplaceTempView("information_schema__views")
        if "columns" in kinds:
            cols = []
            for tcat, tsch, tname, _ttype, qual in tables:
                try:
                    listed = spark.catalog.listColumns(qual)
                except Exception:
                    continue
                for i, c in enumerate(listed, start=1):
                    cols.append(
                        (tcat, tsch, tname, c.name.upper(), i,
                         _sf_type(c.dataType), "YES" if c.nullable else "NO")
                    )
            spark.createDataFrame(
                cols or [("", "", "", "", 0, "", "")],
                "TABLE_CATALOG string, TABLE_SCHEMA string, TABLE_NAME string, "
                "COLUMN_NAME string, ORDINAL_POSITION int, DATA_TYPE string, "
                "IS_NULLABLE string",
            ).createOrReplaceTempView("information_schema__columns")


def resolve(spark: SparkSession, stmt: str, default_catalog: str, table_views: set[str]) -> str:
    """Rewrite `[db.]information_schema.X` references to the materialized
    temp views (registering them first). No-op without a reference."""
    kinds = {m.group(1).lower() for m in _INFO_RE.finditer(stmt)}
    known = kinds & {"tables", "columns", "schemata", "views", "databases"}
    if not known:
        return stmt
    register_views(spark, known, default_catalog, table_views)
    # db-qualified references (snowflake.information_schema.tables) too
    stmt = re.sub(r"\b\w+\s*\.\s*(information_schema\s*\.)", r"\1", stmt, flags=re.I)
    return _INFO_RE.sub(
        lambda m: f"information_schema__{m.group(1).lower()}"
        if m.group(1).lower() in known
        else m.group(0),
        stmt,
    )
