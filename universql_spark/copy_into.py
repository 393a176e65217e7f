"""COPY INTO: Snowflake stage-load rewritten onto spark.read + append.

The reference rewrites `COPY INTO t FROM @stage (params)` into
`INSERT INTO t SELECT * FROM read_<fmt>([urls], mapped_params)` with a ~35
entry option-translation table (plugins/snow.py:89-300, 371-437). Here the
same contract maps onto the DataFrameReader: option table below, then the
target's append (an Iceberg commit, or `insertInto` a catalog table).
Paths are plain file/object-store URLs (the @stage indirection is a
Snowflake-catalog concept; a local path or s3a:// URL plays the same role
for Spark — SURVEY.md §2.1 'Stage resolution').

Scale note: spark.read on a glob/directory parallelizes by file split —
loading N files is an N-way scan, and the append is a write-side shuffle-free
pipeline. The option mapping is metadata-only.
"""

from __future__ import annotations

import os
import re
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

_COPY_RE = re.compile(
    r"^\s*COPY\s+INTO\s+([\w.\"]+)\s+FROM\s+'([^']+)'\s*(.*)$",
    re.I | re.S,
)
_FILE_FORMAT_RE = re.compile(r"FILE_FORMAT\s*=\s*\((.*?)\)", re.I | re.S)
_KV_RE = re.compile(r"(\w+)\s*=\s*('(?:[^']|'')*'|\([^)]*\)|[\w.]+)")

# Snowflake format option -> (spark reader option, value mapper). Options the
# reference explicitly drops (snow.py DISREGARDED/not-supported lists) map to
# None and are ignored here too.
_CSV_OPTIONS = {
    "SKIP_HEADER": ("header", lambda v: "true" if v.strip() in ("1", "TRUE", "true") else "false"),
    "FIELD_DELIMITER": ("sep", lambda v: _unq(v)),
    "FIELD_OPTIONALLY_ENCLOSED_BY": ("quote", lambda v: _unq(v)),
    "ESCAPE": ("escape", lambda v: _unq(v)),
    "NULL_IF": ("nullValue", lambda v: _unq(v.strip("()").split(",")[0])),
    "COMPRESSION": ("compression", lambda v: _unq(v).lower()),
    "RECORD_DELIMITER": ("lineSep", lambda v: _unq(v)),
    "SKIP_BLANK_LINES": ("ignoreEmptyLines", lambda v: v.lower()),
    "ENCODING": ("encoding", lambda v: _unq(v)),
    "TRIM_SPACE": ("ignoreLeadingWhiteSpace", lambda v: v.lower()),
    "DATE_FORMAT": ("dateFormat", lambda v: _map_datetime_format(_unq(v))),
    "TIMESTAMP_FORMAT": ("timestampFormat", lambda v: _map_datetime_format(_unq(v))),
    "ERROR_ON_COLUMN_COUNT_MISMATCH": (None, None),
    "EMPTY_FIELD_AS_NULL": (None, None),
    "PARSE_HEADER": ("header", lambda v: v.lower()),
}

_SNOW_TO_SPARK_DATETIME = [
    ("TZH:TZM", "XXX"),
    ("YYYY", "yyyy"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("MMMM", "MMMM"),
    ("MON", "MMM"),
    ("FF3", "SSS"),
    ("FF6", "SSSSSS"),
    ("YY", "yy"),
    ("MM", "MM"),
    ("DD", "dd"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("DY", "EEE"),
    ("AM", "a"),
    ("PM", "a"),
]

_DT_TOKEN_RE = None  # compiled lazily (module import order)


def _map_datetime_format(fmt: str) -> str:
    """Snowflake datetime format tokens -> Spark/JDK patterns. The reference
    has the same table (plugins/snow.py:41-68) — including an upstream bug
    where the .replace result is discarded; here it is actually applied.
    Snowflake format elements are case-INsensitive ('DD-Mon-YYYY' is valid),
    so matching is one case-insensitive longest-first pass (r8 probe sweep:
    sequential case-sensitive .replace left 'Mon' unmapped and could
    re-match earlier rules' output)."""
    global _DT_TOKEN_RE
    if _DT_TOKEN_RE is None:
        import re

        _DT_TOKEN_RE = re.compile(
            "|".join(re.escape(sf) for sf, _ in _SNOW_TO_SPARK_DATETIME), re.I
        )
    table = {sf: spark for sf, spark in _SNOW_TO_SPARK_DATETIME}
    return _DT_TOKEN_RE.sub(lambda m: table[m.group(0).upper()], fmt)


def _unq(v: str) -> str:
    v = v.strip()
    if v.startswith("'") and v.endswith("'"):
        return v[1:-1].replace("''", "'")
    return v


def parse_format_options(text: str) -> tuple[str, dict[str, str]]:
    """'TYPE = CSV, SKIP_HEADER = 1, ...' -> (fmt, spark reader options).
    Shared by COPY INTO's FILE_FORMAT=(...) and CREATE FILE FORMAT."""
    fmt = "csv"
    options: dict[str, str] = {}
    pairs = _KV_RE.findall(text)
    for k, v in pairs:  # TYPE may appear after other keys; resolve it first
        if k.upper() == "TYPE":
            fmt = _unq(v).lower()
    for k, v in pairs:
        k = k.upper()
        if k != "TYPE" and fmt == "csv" and k in _CSV_OPTIONS:
            opt, mapper = _CSV_OPTIONS[k]
            if opt is not None:
                mapped = mapper(v)
                if mapped not in ("", "auto", "none"):  # AUTO/NONE -> reader default
                    options[opt] = mapped
    return fmt, options


def parse_copy(
    stmt: str,
    named_formats: dict | None = None,
    default_format: tuple[str, dict] | None = None,
) -> tuple[str, str, str, dict[str, str]]:
    """-> (table, path, fmt, spark reader options).

    named_formats: CREATE FILE FORMAT registry for the
    FILE_FORMAT=(FORMAT_NAME='x') spelling; default_format: the source
    stage's format (CREATE STAGE ... FILE_FORMAT=) applied when the COPY
    carries no FILE_FORMAT clause — Snowflake's resolution order."""
    m = _COPY_RE.match(stmt)
    if not m:
        raise ValueError(f"unsupported COPY syntax: {stmt[:120]}")
    table, path, rest = m.group(1).strip('"'), m.group(2), m.group(3) or ""
    fmt = "csv"
    options = {}
    ff = _FILE_FORMAT_RE.search(rest)
    if ff:
        nm = re.search(r"FORMAT_NAME\s*=\s*'?(\w+)'?", ff.group(1), re.I)
        if nm:
            named = (named_formats or {}).get(nm.group(1).lower())
            if named is None:
                raise ValueError(f"unknown file format {nm.group(1)}")
            fmt, options = named[0], dict(named[1])
        else:
            fmt, options = parse_format_options(ff.group(1))
    elif default_format is not None:
        fmt, options = default_format[0], dict(default_format[1])
    if fmt == "parquet":
        # reference forces hive_partitioning + union_by_name (snow.py:77-87)
        options.setdefault("mergeSchema", "true")
    if fmt == "json":
        # reference forces auto_detect (snow.py:70-76) = Spark schema inference
        options.setdefault("multiLine", "false")
    return table, path, fmt, options


def read_stage(
    spark: SparkSession, path: str | list[str], fmt: str, options: dict[str, str]
) -> DataFrame:
    """`path` may be a concrete file list (FORCE=FALSE partial reload)."""
    reader = spark.read.options(**options)
    if fmt == "csv":
        reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "parquet":
        return reader.parquet(*path) if isinstance(path, list) else reader.parquet(path)
    if fmt == "avro":
        try:
            return reader.format("avro").load(path)
        except Exception:  # spark-avro is an external module; this container
            # ships core avro jars only — fall back to the pure-Python
            # object-container reader (binaryFile + mapInPandas, avro_io.py)
            from universql_spark.avro_io import read_avro

            return read_avro(spark, path)
    raise ValueError(f"unsupported COPY format: {fmt}")


# COPY INTO <location> — the UNLOAD direction (export query/table results to
# a stage as CSV/PARQUET/JSON). Reference surface: Snowflake's
# `COPY INTO @stage FROM t FILE_FORMAT=(...)`; options map onto
# DataFrameWriter the same way the load direction maps onto readers.
_UNLOAD_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(@[^\s(;]+|'[^']+')\s+FROM\s+(\((?:[^()]|\([^()]*\))*\)|[\w.\"]+)\s*(.*)$",
    re.I | re.S,
)


def parse_unload(stmt: str) -> tuple[str, str, str, dict[str, str], dict[str, str]]:
    """-> (target location, source table-or-(query), fmt, writer options,
    copy options {OVERWRITE, SINGLE, HEADER})."""
    m = _UNLOAD_RE.match(stmt)
    if not m:
        raise ValueError(f"unsupported COPY INTO <location> syntax: {stmt[:120]}")
    target, source, rest = m.group(1), m.group(2).strip(), m.group(3) or ""
    fmt, options = "csv", {}
    ff = _FILE_FORMAT_RE.search(rest)
    if ff:
        fmt, options = parse_format_options(ff.group(1))
    copy_opts = {
        k.upper(): v.strip("'").lower()
        for k, v in _KV_RE.findall(_FILE_FORMAT_RE.sub("", rest))
    }
    return target, source, fmt, options, copy_opts


def execute_unload(
    spark: SparkSession, df: DataFrame, target_url: str, fmt: str,
    options: dict[str, str], copy_opts: dict[str, str]
) -> pa.Table:
    """Write `df` to the resolved stage URL. One scan: rows_unloaded rides
    the write as an Observation metric (same single-pass discipline as the
    load direction). SINGLE=TRUE coalesces to one file (Snowflake
    semantics); OVERWRITE=TRUE replaces the prefix."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if copy_opts.get("SINGLE") == "true":
        df = df.coalesce(1)
    mode = "overwrite" if copy_opts.get("OVERWRITE") == "true" else "error"
    writer = df.write.mode(mode)
    # reader-option names that differ on the writer side
    wopts = dict(options)
    wopts.pop("mergeSchema", None)
    wopts.pop("multiLine", None)
    if fmt == "csv":
        if copy_opts.get("HEADER") == "true":
            wopts["header"] = "true"
        writer.options(**wopts).csv(target_url)
    elif fmt == "parquet":
        writer.options(**wopts).parquet(target_url)
    elif fmt == "json":
        writer.options(**wopts).json(target_url)
    else:
        raise ValueError(f"unsupported UNLOAD format: {fmt}")
    n = obs.get["n"]
    files = 0
    local = target_url.removeprefix("file:")
    if os.path.isdir(local):
        files = sum(
            1 for f in os.listdir(local) if not f.startswith(("_", "."))
        )
    return pa.table({"rows_unloaded": [n], "files_written": [files]})


# -- COPY options beyond FILE_FORMAT (Snowflake copyOptions surface) --------

_COPY_OPT_RE = re.compile(
    r"\b(ON_ERROR|MATCH_BY_COLUMN_NAME|VALIDATION_MODE|FORCE|PURGE)\s*=\s*"
    r"('[^']*'|\w+)",
    re.I,
)


def parse_copy_options(stmt: str) -> dict[str, str]:
    """COPY's own options (outside FILE_FORMAT=(...)): ON_ERROR,
    MATCH_BY_COLUMN_NAME, VALIDATION_MODE, FORCE, PURGE — uppercased,
    unquoted. Reference parity: plugins/snow.py maps the same names."""
    return {k.upper(): _unq(v).upper() for k, v in _COPY_OPT_RE.findall(stmt)}


def _match_by_name(df: DataFrame, target_schema, case_insensitive: bool) -> DataFrame:
    """MATCH_BY_COLUMN_NAME: project the source onto the target's columns by
    NAME (instead of position); missing columns become typed NULLs."""
    from pyspark.sql import functions as F

    src = {(c.lower() if case_insensitive else c): c for c in df.columns}
    cols = []
    for f in target_schema.fields:
        key = f.name.lower() if case_insensitive else f.name
        if key in src:
            cols.append(F.col(src[key]).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


#: load history per resolved target table (FORCE=FALSE semantics: a file
#: already loaded into a table is skipped on re-COPY, Snowflake's default).
#: Process-lifetime state, like the reference's in-memory session registry.
_LOAD_HISTORY: dict[str, set[str]] = {}


def _stage_file_list(path: str) -> list[str]:
    """Concrete local files behind a COPY source path (file, glob, or
    directory). [] when the path cannot be enumerated locally (remote object
    store) — FORCE/PURGE then either degrade or raise explicitly."""
    import glob as _glob  # noqa: PLC0415

    local = path.removeprefix("file://").removeprefix("file:")
    if re.match(r"^[a-z0-9]+://", local):
        return []
    if os.path.isdir(local):
        return sorted(
            os.path.join(local, f)
            for f in os.listdir(local)
            if not f.startswith(("_", "."))
        )
    return sorted(_glob.glob(local))


def execute_copy_with_options(
    spark: SparkSession,
    stmt: str,
    resolve=None,
    named_formats: dict | None = None,
    default_format: tuple[str, dict] | None = None,
    write: Callable[[DataFrame], None] | None = None,
) -> pa.Table:
    """COPY INTO with the copyOptions surface. The load is one scan of the
    source: its row count rides the write as an Observation metric.
    `write(df)` appends the loaded rows (default: `insertInto` the catalog
    table); `df` has the source's columns, or the target's when the load
    read by the target's schema or by name. Semantics:

    - VALIDATION_MODE = RETURN_ERRORS: dry run — rows that do not parse
      against the TARGET's schema come back as (error, rejected_record),
      nothing is loaded (Snowflake's validation contract).
    - ON_ERROR = CONTINUE: malformed rows are skipped and counted; the scan
      stays single-pass (PERMISSIVE read + corrupt-record column, both
      counts ride the write as Observation metrics). SKIP_FILE degrades to
      CONTINUE here (row granularity — per-file abort would need one Spark
      job per file; documented divergence). Raises for parquet/avro (binary
      formats have no row-granular corrupt-record channel — ADVICE r3 #4;
      silently degrading to ABORT would misreport the contract).
    - MATCH_BY_COLUMN_NAME = CASE_[IN]SENSITIVE: project source onto target
      columns by name; missing columns load as NULL.
    - explicit FORCE=FALSE: files recorded in this process's load history
      for the target are skipped (Snowflake's default). When FORCE is
      UNSPECIFIED we reload — matching the reference, whose COPY delegates
      to a stateless DuckDB read (plugins/snow.py) with no load history;
      documented divergence from Snowflake's implicit FORCE=FALSE.
    - PURGE=TRUE: staged files are deleted after a successful commit
      (raises for non-enumerable/remote paths instead of silently ignoring).
    - default (ABORT_STATEMENT): any bad row fails the statement.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    copts = parse_copy_options(stmt)
    table, path, fmt, options = parse_copy(
        stmt, named_formats=named_formats, default_format=default_format
    )
    if resolve is None:
        from universql_spark.names import resolve_name as resolve
    target = resolve(table)
    if write is None:
        def write(df: DataFrame) -> None:
            df.write.insertInto(target, overwrite=False)
    on_error = copts.get("ON_ERROR", "ABORT_STATEMENT")
    match_by = copts.get("MATCH_BY_COLUMN_NAME", "NONE")
    validation = copts.get("VALIDATION_MODE", "")
    force = copts.get("FORCE", "TRUE") == "TRUE"  # see docstring: unspecified -> reload
    purge = copts.get("PURGE", "FALSE") == "TRUE"

    if on_error in ("CONTINUE", "SKIP_FILE") and fmt not in ("csv", "json"):
        raise ValueError(
            f"ON_ERROR={on_error} is not supported for {fmt}: binary formats "
            "have no row-granular corrupt-record channel; use ABORT_STATEMENT"
        )

    files = _stage_file_list(path)
    if purge and not files:
        raise ValueError(
            "PURGE=TRUE requires an enumerable local stage path; refusing to "
            "report LOADED while leaving staged files in place"
        )
    if not force and not files and not validation:
        # explicit FORCE=FALSE needs per-file load history, which needs an
        # enumerable stage path — silently reloading everything would
        # duplicate rows (ADVICE r4 #4; mirrors the PURGE guard above)
        raise ValueError(
            "FORCE=FALSE requires an enumerable local stage path to consult "
            "load history; refusing to silently reload all files"
        )
    history = _LOAD_HISTORY.setdefault(target, set())
    src: str | list[str] = path
    if not force and files and not validation:
        fresh = [f for f in files if f not in history]
        if not fresh:
            return pa.table({"rows_loaded": [0], "status": ["LOAD_SKIPPED"]})
        if len(fresh) < len(files):
            if fmt == "avro":
                raise ValueError(
                    "FORCE=FALSE partial reload is not supported for avro; "
                    "pass FORCE=TRUE or stage only new files"
                )
            src = fresh
        files = fresh

    def _commit(clean: bool = True) -> None:
        # history always records the files (FORCE=FALSE must not re-load the
        # good rows), but PURGE only destroys fully-loaded sources — Snowflake
        # keeps files with rejected records so they can be repaired/re-staged
        # (ADVICE r4 #5)
        history.update(files)
        if purge and clean:
            for f in files:
                try:
                    os.remove(f)
                except OSError:
                    pass  # already gone; the load itself committed

    needs_schema_read = fmt in ("csv", "json") and (
        validation == "RETURN_ERRORS" or on_error in ("CONTINUE", "SKIP_FILE")
    )
    if needs_schema_read:
        tschema = spark.table(target).schema
        from pyspark.sql.types import StringType, StructField, StructType

        read_schema = StructType(list(tschema.fields) + [StructField("_corrupt", StringType())])
        reader = (
            spark.read.options(**{k: v for k, v in options.items() if k != "inferSchema"})
            .schema(read_schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
        )
        df = reader.csv(src) if fmt == "csv" else reader.json(src)
        # corrupt-record pushdown caveat: referencing ONLY _corrupt is
        # disallowed; always keep the full row alongside
        df = df.cache()
        if validation == "RETURN_ERRORS":
            bad = df.filter(F.col("_corrupt").isNotNull()).select(
                F.lit("parse error against target schema").alias("error"),
                F.col("_corrupt").alias("rejected_record"),
            )
            out = bad.toArrow()
            df.unpersist()
            return out
        good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
        n_bad = df.filter(F.col("_corrupt").isNotNull()).count()
        obs = Observation()
        write(good.observe(obs, F.count(F.lit(1)).alias("n")))
        n = obs.get["n"]
        df.unpersist()
        _commit(clean=(n_bad == 0))
        return pa.table(
            {"rows_parsed": [n + n_bad], "rows_loaded": [n],
             "errors_seen": [n_bad], "status": ["LOADED" if n_bad == 0 else "PARTIALLY_LOADED"]}
        )
    if match_by in ("CASE_INSENSITIVE", "CASE_SENSITIVE"):
        df = read_stage(spark, src, fmt, options)
        df = _match_by_name(df, spark.table(target).schema, match_by == "CASE_INSENSITIVE")
        obs = Observation()
        write(df.observe(obs, F.count(F.lit(1)).alias("n")))
        _commit()
        return pa.table({"rows_loaded": [obs.get["n"]], "status": ["LOADED"]})
    df = read_stage(spark, src, fmt, options)
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    _commit()
    return pa.table({"rows_loaded": [obs.get["n"]], "status": ["LOADED"]})
