"""Apache Iceberg v2 table metadata, written and read in pure Python.

The reference's table abstraction IS Iceberg: warehouse/snowflake.py:97-111
resolves Snowflake tables to Iceberg metadata paths, duckdb.py:223-225 reads
them with iceberg_scan, and CTAS materializes through PyIceberg
(duckdb.py:274-334). This container has neither the iceberg-spark runtime
jar nor PyIceberg, so this module implements the TABLE FORMAT itself from
the public spec (https://iceberg.apache.org/spec/, format-version 2):

- `metadata/v{N}.metadata.json` — table metadata: schemas with field-ids,
  partition specs, sort orders, snapshot list + log, `version-hint.text`
  for the current version (the HadoopCatalog convention the reference's
  DuckDB path reads);
- `metadata/snap-{id}-*.avro` — one MANIFEST LIST per snapshot
  (`manifest_file` records, field-ids 500-517), written with the
  pure-Python Avro encoder in avro_io.py;
- `metadata/*-m0.avro` — MANIFESTS (`manifest_entry` records: status
  ADDED/EXISTING/DELETED, data_file with field-ids 100-134). Each commit
  writes one compacted manifest listing every live data file — the shape
  Iceberg's own manifest-compaction produces. EXISTING entries carry their
  record count, size and column bounds over from the parent snapshot's
  manifest, so a commit opens only the footers of the files it adds;
- immutable parquet data files under `data/`.

The copy-on-write DML mechanics (file-granular DELETE/UPDATE/MERGE,
snapshot time travel) are inherited from tableformat.SnapshotTable; this
class is their only persistence, so every table the engine creates under
a bare name produces and consumes spec-conformant Iceberg metadata.
Readers plan a scan as: version-hint -> metadata.json -> snapshot ->
manifest list -> manifests -> live data files ->
spark.read.schema(S).parquet(*files), with S the current schema as Spark
types: no schema-inference job. Tables whose Spark types Iceberg cannot
express exactly (SMALLINT/TINYINT are Iceberg int, CHAR/VARCHAR string)
keep mergeSchema inference, so their column types stay as written.

Scale note: metadata I/O is driver-side and manifest-sized (KBs per
commit), never data-sized; scan planning reads only the current snapshot's
manifest chain, exactly like iceberg-spark's planning path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from universql_spark import avro_io
from universql_spark.tableformat import MAX_COMMIT_RETRIES, CommitConflict, SnapshotTable
from universql_spark.tableformat import _file_bytes, split_bytes

# manifest-list entry (spec: "Manifest Lists", field-ids 500-517)
_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# data_file struct (spec: "Manifests", field-ids 100-134; partition is the
# empty struct r102 for the unpartitioned spec-id 0; lower/upper_bounds are
# the spec's per-file column stats — field-ids 125/128 — that make
# manifest-level FILE SKIPPING possible: a 100 TB scan or DELETE opens only
# files whose [min,max] intersects the predicate)
def _bounds_field(name: str, fid: int, kid: int, vid: int) -> dict:
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": "bytes", "field-id": vid},
                    ],
                },
            },
        ],
        "field-id": fid,
    }


_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        _bounds_field("lower_bounds", 125, 126, 127),
        _bounds_field("upper_bounds", 128, 129, 130),
        # spec field 135: schema field-ids an EQUALITY delete file matches on
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
            "field-id": 135,
        },
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

_STATUS_ADDED, _STATUS_EXISTING, _STATUS_DELETED = 1, 0, 2

# -- identity partition specs -------------------------------------------------
#
# PARTITION BY on an Iceberg CTAS records a real identity partition spec
# (spec-id 0 with fields, field-ids from 1000) and writes data files that
# each belong to exactly ONE partition tuple (hive-style writer layout with
# the source column DUPLICATED so data files stay self-contained). Manifest
# entries then carry the typed partition struct (spec field-id 102), and
# plan_files() prunes on partition values before consulting column bounds —
# the spec's partition-pruning mechanism, independent of per-file stats.

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_AVRO_PART_TYPES = {
    "long": "long",
    "int": "int",
    "date": {"type": "int", "logicalType": "date"},
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}


def _manifest_entry_schema(part_fields: list[tuple[str, str, int]]) -> dict:
    """Manifest-entry Avro schema with the r102 partition struct typed per
    the table's identity spec fields [(name, iceberg_type, field_id)]."""
    if not part_fields:
        return _MANIFEST_ENTRY_SCHEMA
    r102 = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": n, "type": ["null", _AVRO_PART_TYPES.get(t, "string")], "field-id": fid}
            for n, t, fid in part_fields
        ],
    }
    data_file = json.loads(json.dumps(_DATA_FILE_SCHEMA))
    for f in data_file["fields"]:
        if f["name"] == "partition":
            f["type"] = r102
    entry = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    for f in entry["fields"]:
        if f["name"] == "data_file":
            f["type"] = data_file
    return entry


def _parse_part_value(raw: str, itype: str) -> Any:
    from urllib.parse import unquote  # noqa: PLC0415

    if raw == _HIVE_NULL:
        return None
    raw = unquote(raw)
    if itype in ("long", "int"):
        return int(raw)
    if itype in ("double", "float"):
        return float(raw)
    if itype == "boolean":
        return raw.lower() == "true"
    if itype == "date":
        import datetime as _dt  # noqa: PLC0415

        return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
    return raw


#: PARTITION BY entry syntax -> Iceberg transform. `col` = identity,
#: `day(col)`/`month(col)`/`year(col)`/`hour(col)` = time transforms,
#: `truncate(col, W)` = width truncation (ints: floor to a multiple of W,
#: strings: W-char prefix). Transform RESULT types per the spec: time
#: transforms -> int (offsets from the epoch), truncate/identity -> source.
_PART_ENTRY_RE = re.compile(
    r"^(?:(day|days|month|months|year|years|hour|hours)\s*\(\s*(\w+)\s*\)"
    r"|truncate\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)"
    r"|(\w+))$",
    re.I,
)


def _parse_partition_entry(entry: str) -> tuple[str, str]:
    """'day(ts)' -> (source_col, 'day'); 'truncate(s, 4)' -> (s,
    'truncate[4]'); bare name -> identity."""
    m = _PART_ENTRY_RE.match(entry.strip())
    if not m:
        raise ValueError(f"unsupported PARTITION BY entry: {entry!r}")
    if m.group(1):
        return m.group(2).lower(), m.group(1).lower().rstrip("s")
    if m.group(3):
        return m.group(3).lower(), f"truncate[{m.group(4)}]"
    return m.group(5).lower(), "identity"


def _transform_result_type(transform: str, source_type: str) -> str:
    if transform in ("day", "month", "year", "hour"):
        return "int"
    return source_type  # identity / truncate keep the source type


def _transform_literal(transform: str, v: Any) -> Any:
    """Apply a partition transform to a PREDICATE literal (pruning side).
    Returns NotImplemented when the literal cannot be mapped."""
    import datetime as _dt  # noqa: PLC0415

    if transform == "identity":
        return v
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if isinstance(v, int):
            return v - (((v % w) + w) % w)
        if isinstance(v, str):
            return v[:w]
        return NotImplemented
    if not isinstance(v, str):
        return NotImplemented
    try:
        d = _dt.date.fromisoformat(v[:10])
    except ValueError:
        return NotImplemented
    if transform == "day":
        return (d - _dt.date(1970, 1, 1)).days
    if transform == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if transform == "year":
        return d.year - 1970
    if transform == "hour":
        try:
            ts = _dt.datetime.fromisoformat(v)
        except ValueError:
            ts = _dt.datetime(d.year, d.month, d.day)
        return int((ts - _dt.datetime(1970, 1, 1)).total_seconds() // 3600)
    return NotImplemented


def _iceberg_type(dt: T.DataType, next_id: list[int]) -> Any:
    """Spark type -> Iceberg schema-JSON type, assigning nested field ids
    from the shared counter (spec: ids unique across the whole schema)."""
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.IntegerType) or isinstance(dt, (T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        return {"type": "struct", "fields": _iceberg_fields(dt, next_id)}
    raise ValueError(f"no Iceberg mapping for Spark type {dt}")


def _iceberg_fields(schema: T.StructType, next_id: list[int]) -> list[dict]:
    fields = []
    for f in schema.fields:
        fid = next_id[0]
        next_id[0] += 1
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, next_id),
            }
        )
    return fields


def expressible(schema: T.StructType) -> bool:
    """True when every column type has an Iceberg mapping (an INTERVAL
    has none)."""
    try:
        _iceberg_fields(schema, [1])
    except ValueError:
        return False
    return True


_SQL_TO_ICEBERG = {
    "bigint": "long", "long": "long", "int": "int", "integer": "int",
    "smallint": "int", "tinyint": "int", "double": "double", "float": "float",
    "real": "float", "string": "string", "varchar": "string", "text": "string",
    "boolean": "boolean", "date": "date", "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp", "binary": "binary",
}


_ICEBERG_TO_SPARK = {
    "boolean": T.BooleanType(), "int": T.IntegerType(), "long": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(), "date": T.DateType(),
    "timestamptz": T.TimestampType(), "timestamp": T.TimestampNTZType(),
    "string": T.StringType(), "binary": T.BinaryType(),
}

#: table property set when the table's Spark types do not round-trip
#: through Iceberg types (SMALLINT/TINYINT are Iceberg int, CHAR/VARCHAR
#: are Iceberg string): such tables read by mergeSchema inference, so their
#: columns keep the types the files carry
_INEXACT_PROP = "universql-spark.spark-types-inexact"
_INEXACT_SQL = {"smallint", "tinyint", "byte", "short", "char", "varchar"}


def _spark_type(t: Any) -> T.DataType | None:
    """Iceberg schema-JSON type -> Spark type; None when Spark has no
    exact counterpart (uuid, fixed, time, ...)."""
    if isinstance(t, dict):
        if t["type"] == "list":
            e = _spark_type(t["element"])
            return None if e is None else T.ArrayType(e, not t.get("element-required", False))
        if t["type"] == "map":
            k, v = _spark_type(t["key"]), _spark_type(t["value"])
            if k is None or v is None:
                return None
            return T.MapType(k, v, not t.get("value-required", False))
        if t["type"] == "struct":
            fields = [(f, _spark_type(f["type"])) for f in t["fields"]]
            if any(dt is None for _f, dt in fields):
                return None
            return T.StructType(
                [T.StructField(f["name"], dt, not f.get("required", False)) for f, dt in fields]
            )
        return None
    m = re.match(r"decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return _ICEBERG_TO_SPARK.get(t)


def _spark_types_inexact(dt: T.DataType) -> bool:
    """True when dt holds a type Iceberg maps to a wider one (see
    _INEXACT_PROP)."""
    if isinstance(dt, (T.ShortType, T.ByteType, T.CharType, T.VarcharType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _spark_types_inexact(dt.elementType)
    if isinstance(dt, T.MapType):
        return _spark_types_inexact(dt.keyType) or _spark_types_inexact(dt.valueType)
    if isinstance(dt, T.StructType):
        # catalog CHAR/VARCHAR columns surface as string + this marker
        return any(
            "__CHAR_VARCHAR_TYPE_STRING" in (f.metadata or {}) or _spark_types_inexact(f.dataType)
            for f in dt.fields
        )
    return False


def _spark_schemas(meta: dict) -> tuple[T.StructType, T.StructType] | None:
    """(current schema, read schema) as Spark types, or None for tables
    read by inference. The read schema appends the older names of renamed
    columns, which files written before the rename hold (typed as the
    column is now; the read stitches them into the current name)."""
    props = meta.get("properties", {})
    added = json.loads(props.get("universql-spark.added-columns", "[]"))
    if props.get(_INEXACT_PROP) == "true" or any(
        t.split("(")[0].strip().lower() in _INEXACT_SQL for _c, t in added
    ):
        return None
    cur = next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])
    types = {f["id"]: _spark_type(f["type"]) for f in cur["fields"]}
    if any(dt is None for dt in types.values()):
        return None
    current = T.StructType([T.StructField(f["name"], types[f["id"]]) for f in cur["fields"]])
    seen = {f["name"].lower() for f in cur["fields"]}
    older = []
    for sch in meta["schemas"]:
        for f in sch["fields"]:
            if f["id"] in types and f["name"].lower() not in seen:
                seen.add(f["name"].lower())
                older.append(T.StructField(f["name"], types[f["id"]]))
    return current, T.StructType(current.fields + older)


def _read_avro_records(path: str) -> list[dict]:
    with open(path, "rb") as f:
        buf = f.read()
    schema, codec, _sync, start = avro_io.parse_header(buf)
    return list(avro_io._iter_records(buf, schema, codec, start))


# -- per-file column bounds (spec: single-value binary serialization) -------

_BOUNDABLE = {"int", "long", "float", "double", "string", "boolean", "date",
              "timestamp", "timestamptz"}


def _ser_bound(v: Any, itype: str) -> bytes:
    import datetime as dt
    import struct as st

    if itype == "int":
        return st.pack("<i", int(v))
    if itype == "long":
        return st.pack("<q", int(v))
    if itype == "float":
        return st.pack("<f", float(v))
    if itype == "double":
        return st.pack("<d", float(v))
    if itype == "boolean":
        return b"\x01" if v else b"\x00"
    if itype == "date":
        return st.pack("<i", (v - dt.date(1970, 1, 1)).days)
    if itype in ("timestamp", "timestamptz"):
        epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return st.pack("<q", int((v - epoch).total_seconds() * 1_000_000))
    return str(v).encode("utf-8")  # string


def _deser_bound(b: bytes, itype: str):
    import datetime as dt
    import struct as st

    if itype == "int":
        return st.unpack("<i", b)[0]
    if itype == "long":
        # bounds written before an int -> long promotion keep 4 bytes
        return st.unpack("<q" if len(b) == 8 else "<i", b)[0]
    if itype == "float":
        return st.unpack("<f", b)[0]
    if itype == "double":
        return st.unpack("<d" if len(b) == 8 else "<f", b)[0]
    if itype == "boolean":
        return b == b"\x01"
    if itype == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=st.unpack("<i", b)[0])
    if itype in ("timestamp", "timestamptz"):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=st.unpack("<q", b)[0])
    return b.decode("utf-8")


def _footer_bounds(md, fields: list[dict]) -> tuple[list[dict], list[dict]]:
    """Per-column [min,max] from a parquet FOOTER's row-group stats
    (metadata-only, no data read) -> (lower_bounds, upper_bounds) entries
    keyed by Iceberg field id. Top-level primitive columns only, matched
    by their leaf path in the file."""
    leaf = {}
    if md.num_row_groups:
        rg0 = md.row_group(0)
        leaf = {rg0.column(j).path_in_schema: j for j in range(rg0.num_columns)}
    lower, upper = [], []
    for f in fields:
        if not isinstance(f["type"], str) or f["type"] not in _BOUNDABLE:
            continue
        idx = leaf.get(f["name"])
        if idx is None:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st_ = md.row_group(rg).column(idx).statistics
            if st_ is None or not st_.has_min_max:
                mins = []
                break
            mins.append(st_.min)
            maxs.append(st_.max)
        if not mins:
            continue
        lower.append({"key": f["id"], "value": _ser_bound(min(mins), f["type"])})
        upper.append({"key": f["id"], "value": _ser_bound(max(maxs), f["type"])})
    return lower, upper


_SIMPLE_COND_RE = re.compile(
    r"^\s*(?:\w+\.)?(\w+)\s*(=|==|<=|>=|<|>)\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
)


def parse_simple_conjuncts(cond: str | None) -> list[tuple[str, str, Any]]:
    """Extract `col <op> literal` conjuncts from a predicate string.
    Pruning on a SUBSET of AND-ed conjuncts is sound (every conjunct must
    hold), so unparsable parts are dropped; any OR/NOT disables pruning
    entirely (a disjunct could match rows a conjunct-prune would skip)."""
    if not cond or re.search(r"\b(OR|NOT)\b", cond, re.I):
        return []
    out = []
    for part in re.split(r"(?i)\bAND\b", cond):
        m = _SIMPLE_COND_RE.match(part)
        if not m:
            continue
        col, op, lit = m.group(1).lower(), m.group(2), m.group(3)
        val: Any
        if lit.startswith("'"):
            val = lit[1:-1].replace("''", "'")
        elif "." in lit:
            val = float(lit)
        else:
            val = int(lit)
        out.append((col, "=" if op == "==" else op, val))
    return out


def _range_overlaps(op: str, v: Any, lo: Any, hi: Any) -> bool:
    try:
        if op == "=":
            return not (v < lo or v > hi)
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
    except TypeError:
        return True  # incomparable literal/bound types: keep the file
    return True


class IcebergTable(SnapshotTable):
    """SnapshotTable persisted as Iceberg v2 metadata (its only format)."""

    def __init__(self, root: str):
        super().__init__(root)
        #: logical state of the latest metadata version _load read
        self._version_cache: dict[int, dict] = {}
        #: manifest-list path -> _snapshot_files (manifests are immutable)
        self._snapshot_files_memo: dict[str, tuple] = {}
        #: parquet footer of each file _write_files wrote and no commit has
        #: listed yet (the manifest writer pops it)
        self._footers: dict[str, Any] = {}

    # -- layout ------------------------------------------------------------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    @property
    def _hint_path(self) -> str:
        return os.path.join(self._meta_dir, "version-hint.text")

    def _version_path(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v}.metadata.json")

    def current_version(self) -> int:
        """Version hint, then roll forward past any newer committed version
        files: a writer that crashed between the exclusive version-file
        create and the hint swap must not wedge every later committer into
        an unwinnable CAS against an already-taken version."""
        with open(self._hint_path) as f:
            v = int(f.read().strip())
        while os.path.exists(self._version_path(v + 1)):
            v += 1
        return v

    def _read_metadata(self) -> tuple[int, dict]:
        v = self.current_version()
        with open(self._version_path(v)) as f:
            return v, json.load(f)

    def _cas_write_version(self, base_v: int, meta: dict) -> bool:
        """HadoopCatalog optimistic commit: exactly one writer can publish
        v{base_v+1}.metadata.json — the loser returns False and the caller
        re-reads and rebases/retries. The hint swap after a won race is
        advisory (current_version rolls forward past it), so hint lag
        cannot corrupt the table."""
        new_v = base_v + 1
        tmp = self._version_path(new_v) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        try:
            # os.link is the CAS: atomic on POSIX, fails iff the destination
            # exists, and publishes the COMPLETE file (an O_EXCL create +
            # write would expose partially-written JSON to a concurrent
            # reader rolling forward past the hint).
            os.link(tmp, self._version_path(new_v))
        except FileExistsError:
            os.remove(tmp)
            return False
        os.remove(tmp)
        hint_tmp = self._hint_path + f".{uuid.uuid4().hex}.tmp"
        with open(hint_tmp, "w") as f:
            f.write(str(new_v))
        os.replace(hint_tmp, self._hint_path)
        self._version_cache.pop(new_v, None)
        return True

    # -- scan planning (spec: snapshot -> manifest list -> manifests) ------

    def _snapshot_files(
        self, manifest_list_path: str
    ) -> tuple[list[str], list[str], list[dict]]:
        """(live data files, live positional-delete files, live
        equality-delete entries [{"path", "ids"}]) of one snapshot:
        manifest-list entries with content=0 chain to data manifests,
        content=1 to delete manifests (spec field-id 517); within a delete
        manifest, data_file.content distinguishes positional (1) from
        equality (2) files."""
        data: list[str] = []
        deletes: list[str] = []
        eq: list[dict] = []
        for mf in _read_avro_records(manifest_list_path):
            for entry in _read_avro_records(mf["manifest_path"]):
                if entry["status"] == _STATUS_DELETED:
                    continue
                d = entry["data_file"]
                if mf.get("content") != 1:
                    data.append(d["file_path"])
                elif d.get("content") == 2:
                    eq.append({"path": d["file_path"], "ids": d.get("equality_ids") or []})
                else:
                    deletes.append(d["file_path"])
        return data, deletes, eq

    def _live_files(self, manifest_list_path: str) -> list[str]:
        """Every file a snapshot references (data + deletes) — liveness set
        for expire_snapshots' dead-file sweep."""
        data, deletes, eq = self._snapshot_files(manifest_list_path)
        return data + deletes + [e["path"] for e in eq]

    def _load(self) -> dict:
        v, meta = self._read_metadata()
        # Commit lineage: _commit CASes against the version this state was
        # READ from, not a re-read — the _load->_commit window is exactly
        # what the optimistic protocol must detect. (One table instance is
        # one writer; concurrent writers use separate instances, as with a
        # real catalog's per-commit table handles.)
        self._base_version = v
        if v not in self._version_cache:
            # field-id -> name for rehydrating equality_ids into column names
            id_to_name = {}
            for sch in meta.get("schemas", []):
                for f in sch.get("fields", []):
                    id_to_name.setdefault(f["id"], f["name"])
            snaps = []
            for s in meta.get("snapshots", []):
                ml = s["manifest-list"]
                if ml not in self._snapshot_files_memo:
                    self._snapshot_files_memo[ml] = self._snapshot_files(ml)
                data, deletes, eq = self._snapshot_files_memo[ml]
                snap = {
                    "id": s["snapshot-id"],
                    "timestamp_ms": s["timestamp-ms"],
                    "operation": s["summary"]["operation"],
                    "files": data,
                }
                if deletes:
                    snap["delete_files"] = deletes
                if eq:
                    snap["eq_delete_files"] = [
                        {"path": e["path"], "cols": [id_to_name[i] for i in e["ids"]]}
                        for e in eq
                    ]
                snaps.append(snap)
            props = meta.get("properties", {})
            self._version_cache.clear()
            self._version_cache[v] = {
                "snapshots": snaps,
                "added_columns": json.loads(
                    props.get("universql-spark.added-columns", "[]")
                ),
                "schema_ops": json.loads(
                    props.get("universql-spark.schema-ops", "[]")
                ),
                "retired_names": json.loads(
                    props.get("universql-spark.retired-names", "[]")
                ),
            }
        cached = self._version_cache[v]
        # callers mutate the returned dict before _commit: hand out copies
        return {
            "snapshots": [
                {**s, "eq_delete_files": [dict(e) for e in s["eq_delete_files"]]}
                if "eq_delete_files" in s
                else dict(s)
                for s in cached["snapshots"]
            ],
            "added_columns": [list(c) for c in cached["added_columns"]],
            "schema_ops": [list(c) for c in cached["schema_ops"]],
            "retired_names": list(cached["retired_names"]),
        }

    # -- table properties --------------------------------------------------

    def get_property(self, key: str, default: str | None = None) -> str | None:
        _v, meta = self._read_metadata()
        return meta.get("properties", {}).get(key, default)

    def set_property(self, key: str, value: str) -> None:
        """Property change = a new metadata.json version (no snapshot)."""
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            meta.setdefault("properties", {})[key] = value
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict(f"set_property({key}) lost the commit race {MAX_COMMIT_RETRIES} times")

    # -- schema ------------------------------------------------------------

    def _schemas(self) -> tuple[T.StructType, T.StructType] | None:
        return _spark_schemas(self._read_metadata()[1])

    def _spark_schema(self) -> T.StructType | None:
        """The current schema as Spark types (None: read by inference)."""
        both = self._schemas()
        return both[0] if both else None

    def _read_schema(self) -> T.StructType | None:
        """The schema files are read with (None: read by inference)."""
        both = self._schemas()
        return both[1] if both else None

    def _promote(self, cols: dict[str, T.DataType]) -> None:
        """Type promotion as metadata (spec: schema evolution): a new schema
        entry gives the columns their wider types. Files keep theirs and
        read widened under the new schema."""
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            cur = next(
                s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
            )
            wider = {n.lower(): dt for n, dt in cols.items()}
            fields = [
                {**f, "type": _iceberg_type(wider[f["name"].lower()], [0])}
                if f["name"].lower() in wider
                else f
                for f in cur["fields"]
            ]
            new_schema = {
                "type": "struct",
                "schema-id": meta["current-schema-id"] + 1,
                "fields": fields,
            }
            meta["schemas"].append(new_schema)
            meta["current-schema-id"] = new_schema["schema-id"]
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict(f"type promotion lost the commit race {MAX_COMMIT_RETRIES} times")

    def add_partition_field(
        self, source_col: str, transform: str = "identity", name: str | None = None
    ) -> None:
        """Partition evolution (spec §Partition Evolution): append a NEW
        spec (spec-id max+1) with the current default's fields plus one, and
        make it the default — a metadata-only commit. Old data files are
        NEVER rewritten: they keep their original layout, their partition
        tuples simply carry null for the new field, and plan_files treats a
        null partition value as un-prunable (conservative, correct). New
        writes lay data out by the new spec, so pruning on the new field
        applies to new files immediately."""
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            fields = next(
                s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
            )["fields"]
            src = next(
                (f for f in fields if f["name"].lower() == source_col.lower()), None
            )
            if src is None:
                raise ValueError(f"unknown partition source column {source_col}")
            specs = meta.setdefault("partition-specs", [{"spec-id": 0, "fields": []}])
            cur = next(
                (s for s in specs if s["spec-id"] == meta.get("default-spec-id", 0)),
                {"fields": []},
            )
            if any(
                pf["source-id"] == src["id"] and pf.get("transform", "identity") == transform
                for pf in cur.get("fields", [])
            ):
                raise ValueError(
                    f"partition field {transform}({source_col}) already in the default spec"
                )
            fid = meta.get("last-partition-id", 999) + 1
            fname = name or (
                src["name"].lower()
                if transform == "identity"
                else f"{src['name'].lower()}_{transform.replace('[', '_').rstrip(']')}"
            )
            new_spec = {
                "spec-id": max(s["spec-id"] for s in specs) + 1,
                "fields": [dict(pf) for pf in cur.get("fields", [])]
                + [
                    {
                        "name": fname,
                        "transform": transform,
                        "source-id": src["id"],
                        "field-id": fid,
                    }
                ],
            }
            specs.append(new_spec)
            meta["default-spec-id"] = new_spec["spec-id"]
            meta["last-partition-id"] = fid
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict("add_partition_field lost the commit race")

    def drop_partition_field(self, name_or_source: str) -> None:
        """Partition evolution, removal direction: a new default spec
        WITHOUT the field (matched by partition-field name or source
        column). Metadata-only; existing files keep their layout."""
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            fields = next(
                s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
            )["fields"]
            by_id = {f["id"]: f["name"].lower() for f in fields}
            specs = meta.get("partition-specs", [])
            cur = next(
                (s for s in specs if s["spec-id"] == meta.get("default-spec-id", 0)),
                {"fields": []},
            )
            key = name_or_source.lower()
            keep = [
                pf for pf in cur.get("fields", [])
                if pf["name"].lower() != key and by_id.get(pf["source-id"]) != key
            ]
            if len(keep) == len(cur.get("fields", [])):
                raise ValueError(f"no partition field {name_or_source} in the default spec")
            new_spec = {
                "spec-id": max(s["spec-id"] for s in specs) + 1,
                "fields": keep,
            }
            specs.append(new_spec)
            meta["default-spec-id"] = new_spec["spec-id"]
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict("drop_partition_field lost the commit race")

    # -- commit (one new metadata version per operation) -------------------

    def _part_spec_fields(self, meta: dict | None = None) -> list[tuple[str, str, int]]:
        """Default spec's fields -> [(field_name, RESULT iceberg_type,
        field_id)] (identity + day/month/year/hour + truncate[W])."""
        return [(n, t, fid) for n, t, fid, _tr, _src in self._part_spec_full(meta)]

    def _part_spec_full(self, meta: dict | None = None) -> list[tuple[str, str, int, str, str]]:
        """-> [(field_name, result_type, field_id, transform, source_col)]."""
        if meta is None:
            _v, meta = self._read_metadata()
        spec = next(
            (s for s in meta.get("partition-specs", []) if s["spec-id"] == meta.get("default-spec-id", 0)),
            None,
        )
        if not spec or not spec.get("fields"):
            return []
        schema_fields = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )["fields"]
        by_id = {f["id"]: f for f in schema_fields}
        out = []
        for pf in spec["fields"]:
            src = by_id.get(pf["source-id"], {})
            if not isinstance(src.get("type"), str):
                continue
            tr = pf.get("transform", "identity")
            out.append(
                (pf["name"], _transform_result_type(tr, src["type"]), pf["field-id"], tr, src["name"])
            )
        return out

    def _write_files(self, df: DataFrame) -> list[str]:
        """Write df's rows as new data files (one per partition of df) and
        read each new file's footer once: the manifest writer takes its
        row count and bounds from it, `_nonempty` its row count."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        files = self._write_layout(df)
        for f in files:
            self._footers[f] = pq.ParquetFile(f).metadata
        return files

    def _nonempty(self, files: list[str]) -> list[str]:
        """`files` without the ones holding no rows, which are deleted: a
        rewrite whose every row went away still leaves one empty file."""
        keep = []
        for f in files:
            md = self._footers.get(f)
            if md is not None and md.num_rows == 0:
                del self._footers[f]
                os.remove(f)
            else:
                keep.append(f)
        return keep

    def _write_layout(self, df: DataFrame) -> list[str]:
        """Partition-aware write: each data file belongs to exactly one
        partition tuple. The partition columns are DUPLICATED as hive
        layout keys (__p_<col>=<value>/ dirs) so the originals stay inside
        the files — Iceberg data files are self-contained."""
        try:
            pf = self._part_spec_full()
        except Exception:
            pf = []
        if not pf:
            return super()._write_files(df)
        def texpr(transform: str, src: str):
            c = F.col(src)
            if transform == "identity":
                return c
            if transform == "day":
                return F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01")))
            if transform == "month":
                return (F.year(c) - 1970) * 12 + F.month(c) - 1
            if transform == "year":
                return F.year(c) - 1970
            if transform == "hour":
                return F.floor(F.unix_timestamp(c) / 3600).cast("int")
            if transform.startswith("truncate["):
                w = int(transform[9:-1])
                if dict(df.dtypes).get(src) == "string":
                    return F.substring(c, 1, w)
                return c - (((c % w) + w) % w)
            raise ValueError(f"unsupported partition transform {transform}")

        out = os.path.join(self.root, "data", uuid.uuid4().hex[:12])
        dup = {f"__p_{n}": texpr(tr, src) for n, _t, _f, tr, src in pf}
        staged = df.withColumns(dup)
        # shuffle on the partition keys first: without it every input task
        # writes one file per value it happens to hold (tasks x values small
        # files). One hash exchange -> one file per partition tuple; a hot
        # tuple is AQE-skew territory, same as any partitioned table write.
        staged = staged.repartition(*[F.col(k) for k in dup])
        staged.write.partitionBy(*dup).parquet(out)
        paths = []
        for dirpath, _dirs, files in os.walk(out):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
        return sorted(paths)

    @staticmethod
    def _file_partition(path: str, part_fields: list[tuple[str, str, int]]) -> dict:
        """Partition tuple of a data file, parsed from its __p_<col>=<raw>
        path segments (hive encoding: URL-quoted values, null sentinel)."""
        raw = {}
        for seg in path.split(os.sep):
            if seg.startswith("__p_") and "=" in seg:
                k, _, v = seg.partition("=")
                raw[k[4:].lower()] = v
        return {n: _parse_part_value(raw[n.lower()], t) if n.lower() in raw else None
                for n, t, _f in part_fields}

    def _entry_stats(
        self, path: str, status: int, prev: dict[str, dict], fields: list[dict] | None
    ) -> tuple[int, int, list | None, list | None]:
        """(record_count, file_size_in_bytes, lower_bounds, upper_bounds) of
        a manifest entry. EXISTING files carry theirs over from the parent
        snapshot's manifest (`prev`); an ADDED file's footer is opened once
        (the footer `_write_files` already read, when it wrote the file).
        `fields` None: no bounds (delete files)."""
        old = prev.get(path) if status == _STATUS_EXISTING else None
        if old is not None:
            return (old["record_count"], old["file_size_in_bytes"],
                    old.get("lower_bounds"), old.get("upper_bounds"))
        import pyarrow.parquet as pq  # noqa: PLC0415

        md = self._footers.pop(path, None)
        if md is None:
            md = pq.ParquetFile(path).metadata
        lower, upper = _footer_bounds(md, fields) if fields else ([], [])
        return md.num_rows, os.path.getsize(path), lower or None, upper or None

    def _write_manifest(
        self, snap: dict, seq: int, first_seen: dict[str, tuple[int, int]],
        meta: dict, prev: dict[str, dict],
    ) -> tuple[str, dict]:
        """Write ONE compacted manifest holding every live file of `snap`
        (status ADDED for files first seen in this snapshot, EXISTING with
        their original snapshot/sequence otherwise) -> (path, manifest_file
        record for the manifest list)."""
        fields = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )["fields"]
        part_fields = self._part_spec_fields(meta)
        entries, counts = [], {"added": [0, 0], "existing": [0, 0]}
        min_seq = seq
        for path in snap["files"]:
            o_snap, o_seq = first_seen.get(path, (snap["id"], seq))
            status = _STATUS_ADDED if o_snap == snap["id"] else _STATUS_EXISTING
            n, size, lower, upper = self._entry_stats(path, status, prev, fields)
            key = "added" if status == _STATUS_ADDED else "existing"
            counts[key][0] += 1
            counts[key][1] += n
            min_seq = min(min_seq, o_seq)
            entries.append(
                {
                    "status": status,
                    "snapshot_id": o_snap,
                    "sequence_number": o_seq,
                    "file_sequence_number": o_seq,
                    "data_file": {
                        "content": 0,
                        "file_path": path,
                        "file_format": "PARQUET",
                        "partition": self._file_partition(path, part_fields)
                        if part_fields
                        else {},
                        "record_count": n,
                        "file_size_in_bytes": size,
                        "lower_bounds": lower,
                        "upper_bounds": upper,
                        "equality_ids": None,
                    },
                }
            )
        mpath = os.path.join(self._meta_dir, f"{uuid.uuid4().hex}-m0.avro")
        avro_io.write_avro(mpath, _manifest_entry_schema(part_fields), entries)
        return mpath, {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 0,  # data
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snap["id"],
            "added_files_count": counts["added"][0],
            "existing_files_count": counts["existing"][0],
            "deleted_files_count": 0,
            "added_rows_count": counts["added"][1],
            "existing_rows_count": counts["existing"][1],
            "deleted_rows_count": 0,
        }

    def _write_delete_manifest(
        self, snap: dict, seq: int, first_seen: dict[str, tuple[int, int]],
        prev: dict[str, dict], name_to_id: dict[str, int] | None = None,
    ) -> tuple[str, dict]:
        """DELETE manifest (spec: manifest content=1) listing the snapshot's
        live POSITION-delete files (data_file content=1) and EQUALITY-delete
        files (content=2, with the spec's equality_ids field naming the
        schema fields the delete keys match on). Shape mirrors
        _write_manifest; bounds are omitted (delete files are tiny and
        always read whole during scan planning)."""
        entries, counts = [], {"added": [0, 0], "existing": [0, 0]}
        min_seq = seq
        work = [(p, 1, None) for p in snap.get("delete_files", [])] + [
            (e["path"], 2, [name_to_id[c.lower()] for c in e["cols"]] if name_to_id else [])
            for e in snap.get("eq_delete_files", [])
        ]
        for path, content, eq_ids in work:
            o_snap, o_seq = first_seen.get(path, (snap["id"], seq))
            status = _STATUS_ADDED if o_snap == snap["id"] else _STATUS_EXISTING
            n, size, _lo, _up = self._entry_stats(path, status, prev, None)
            key = "added" if status == _STATUS_ADDED else "existing"
            counts[key][0] += 1
            counts[key][1] += n
            min_seq = min(min_seq, o_seq)
            entries.append(
                {
                    "status": status,
                    "snapshot_id": o_snap,
                    "sequence_number": o_seq,
                    "file_sequence_number": o_seq,
                    "data_file": {
                        "content": content,  # 1=POSITION_DELETES 2=EQUALITY_DELETES
                        "file_path": path,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n,
                        "file_size_in_bytes": size,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": eq_ids,
                    },
                }
            )
        mpath = os.path.join(self._meta_dir, f"{uuid.uuid4().hex}-m1.avro")
        avro_io.write_avro(mpath, _MANIFEST_ENTRY_SCHEMA, entries)
        return mpath, {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
            "content": 1,  # deletes
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snap["id"],
            "added_files_count": counts["added"][0],
            "existing_files_count": counts["existing"][0],
            "deleted_files_count": 0,
            "added_rows_count": counts["added"][1],
            "existing_rows_count": counts["existing"][1],
            "deleted_rows_count": 0,
        }

    @staticmethod
    def _current_entries(meta: dict) -> dict[str, dict]:
        """file path -> data_file record of every live entry (data and
        deletes) in the current snapshot's manifests."""
        current = next(
            (s for s in meta.get("snapshots", [])
             if s["snapshot-id"] == meta.get("current-snapshot-id")),
            None,
        )
        out: dict[str, dict] = {}
        if current is not None:
            for mf in _read_avro_records(current["manifest-list"]):
                for e in _read_avro_records(mf["manifest_path"]):
                    if e["status"] != _STATUS_DELETED:
                        out[e["data_file"]["file_path"]] = e["data_file"]
        return out

    def _base_meta(self, v: int) -> dict:
        """The committed metadata document at version token v — the base a
        commit rebuilds onto. File-based here; CatalogIcebergTable overrides
        with the catalog-served document."""
        with open(self._version_path(v)) as f:
            return json.load(f)

    def _commit(self, d: dict) -> bool:
        # Translate the logical state `d` (built from the metadata version
        # _load read) back onto THAT version's Iceberg metadata, and CAS the
        # result in. A concurrent commit in the _load->here window makes the
        # CAS fail; the caller's retry loop re-loads and rebases.
        v = getattr(self, "_base_version", None)
        if v is None:
            v = self.current_version()
        meta = self._base_meta(v)
        known = {s["snapshot-id"] for s in meta.get("snapshots", [])}
        now_ms = int(time.time() * 1000)

        # (file -> (snapshot_id, sequence_number)) at first appearance, so
        # carried-over files keep their original lineage in EXISTING entries
        first_seen: dict[str, tuple[int, int]] = {}
        for i, snap in enumerate(d["snapshots"]):
            eq_paths = [e["path"] for e in snap.get("eq_delete_files", [])]
            for f in snap["files"] + snap.get("delete_files", []) + eq_paths:
                first_seen.setdefault(f, (snap["id"], i + 1))

        cur_schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        name_to_id = {f["name"].lower(): f["id"] for f in cur_schema["fields"]}
        seq = meta.get("last-sequence-number", 0)
        parent = meta.get("current-snapshot-id")
        prev = self._current_entries(meta)
        for i, snap in enumerate(d["snapshots"]):
            if snap["id"] in known:
                continue
            seq = i + 1  # one sequence number per snapshot, in commit order
            _mpath, mf_record = self._write_manifest(snap, seq, first_seen, meta, prev)
            records = [mf_record]
            if snap.get("delete_files") or snap.get("eq_delete_files"):
                _dpath, del_record = self._write_delete_manifest(
                    snap, seq, first_seen, prev, name_to_id=name_to_id
                )
                records.append(del_record)
            mlist = os.path.join(
                self._meta_dir, f"snap-{snap['id']}-{uuid.uuid4().hex}.avro"
            )
            avro_io.write_avro(mlist, _MANIFEST_FILE_SCHEMA, records)
            s_json = {
                "snapshot-id": snap["id"],
                "sequence-number": seq,
                "timestamp-ms": snap["timestamp_ms"],
                "manifest-list": mlist,
                "summary": {"operation": _ICEBERG_OP.get(snap["operation"], "overwrite")},
                "schema-id": meta["current-schema-id"],
            }
            if parent is not None:
                s_json["parent-snapshot-id"] = parent
            meta.setdefault("snapshots", []).append(s_json)
            meta.setdefault("snapshot-log", []).append(
                {"timestamp-ms": snap["timestamp_ms"], "snapshot-id": snap["id"]}
            )
            meta["current-snapshot-id"] = snap["id"]
            parent = snap["id"]

        # schema evolution: added_columns -> a NEW schema entry (old files
        # are never rewritten; readers fill missing columns with NULL)
        stored = json.loads(
            meta.get("properties", {}).get("universql-spark.added-columns", "[]")
        )
        if [list(c) for c in d.get("added_columns", [])] != stored:
            cur = next(
                s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
            )
            new_fields = [dict(f) for f in cur["fields"]]
            col_id = meta["last-column-id"]
            for col, sql_type in d["added_columns"][len(stored):]:
                col_id += 1
                base = sql_type.split("(")[0].strip().lower()
                itype = (
                    sql_type.lower()
                    if base == "decimal"
                    else _SQL_TO_ICEBERG.get(base)
                )
                if itype is None:
                    raise ValueError(f"no Iceberg mapping for ADD COLUMN type {sql_type}")
                new_fields.append(
                    {"id": col_id, "name": col, "required": False, "type": itype}
                )
            new_schema = {
                "type": "struct",
                "schema-id": meta["current-schema-id"] + 1,
                "fields": new_fields,
            }
            meta["schemas"].append(new_schema)
            meta["current-schema-id"] = new_schema["schema-id"]
            meta["last-column-id"] = col_id
        meta.setdefault("properties", {})["universql-spark.added-columns"] = json.dumps(
            d.get("added_columns", [])
        )

        # drop/rename evolution: each new op yields a NEW schema entry.
        # RENAME keeps the field's id (the whole point of Iceberg ids: old
        # data files resolve by id, not name); DROP removes the field from
        # the current schema while historical schemas keep it.
        stored_ops = json.loads(
            meta.get("properties", {}).get("universql-spark.schema-ops", "[]")
        )
        new_ops = [list(o) for o in d.get("schema_ops", [])]
        if len(new_ops) > len(stored_ops):  # append-only log; never regress
            cur = next(
                s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
            )
            new_fields = [dict(f) for f in cur["fields"]]
            for op in new_ops[len(stored_ops):]:
                if op[0] == "drop":
                    new_fields = [f for f in new_fields if f["name"].lower() != op[1].lower()]
                elif op[0] == "rename":
                    for f in new_fields:
                        if f["name"].lower() == op[1].lower():
                            f["name"] = op[2]
            new_schema = {
                "type": "struct",
                "schema-id": meta["current-schema-id"] + 1,
                "fields": new_fields,
            }
            meta["schemas"].append(new_schema)
            meta["current-schema-id"] = new_schema["schema-id"]
            meta["properties"]["universql-spark.schema-ops"] = json.dumps(new_ops)
        retired = d.get("retired_names", [])
        if len(retired) > len(json.loads(
            meta["properties"].get("universql-spark.retired-names", "[]")
        )):
            meta["properties"]["universql-spark.retired-names"] = json.dumps(retired)

        meta["last-sequence-number"] = max(seq, meta.get("last-sequence-number", 0))
        meta["last-updated-ms"] = now_ms
        meta.setdefault("metadata-log", []).append(
            {"timestamp-ms": now_ms, "metadata-file": self._version_path(v)}
        )
        return self._cas_write_version(v, meta)

    def plan_files(self, conds: list[tuple[str, str, Any]]) -> list[str]:
        """Manifest-level file skipping: keep only live files whose
        [lower,upper] column bounds can satisfy EVERY `col <op> literal`
        conjunct. Bounds live in the manifests (spec field-ids 125/128), so
        planning reads KBs of metadata — never the data — exactly how
        iceberg-spark prunes a 100 TB scan down to the matching files."""
        _v, meta = self._read_metadata()
        fields = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )["fields"]
        by_name = {
            f["name"].lower(): (f["id"], f["type"])
            for f in fields
            if isinstance(f["type"], str)
        }
        current = next(
            (s for s in meta.get("snapshots", [])
             if s["snapshot-id"] == meta.get("current-snapshot-id")),
            None,
        )
        if current is None:
            return []
        # partition columns prune on the manifest's typed partition tuple
        # (the spec's mechanism) BEFORE any bounds are consulted; predicate
        # literals map through the transform, with strict ops relaxed for
        # the non-injective time/truncate transforms (sound: the partition
        # value only narrows to whole transform buckets)
        part_by_source: dict[str, list[tuple[str, str]]] = {}
        for n, t, _f, tr, src in self._part_spec_full(meta):
            if t in ("long", "int", "string"):
                part_by_source.setdefault(src.lower(), []).append((n, tr))
        keep: list[str] = []
        for mf in _read_avro_records(current["manifest-list"]):
            if mf.get("content") == 1:
                continue  # delete manifests are not scan candidates
            for e in _read_avro_records(mf["manifest_path"]):
                if e["status"] == _STATUS_DELETED:
                    continue
                d = e["data_file"]
                lb = {x["key"]: x["value"] for x in (d.get("lower_bounds") or [])}
                ub = {x["key"]: x["value"] for x in (d.get("upper_bounds") or [])}
                part = d.get("partition") or {}
                ok = True
                for col, op, v in conds:
                    for name, tr in part_by_source.get(col, []):
                        tv = _transform_literal(tr, v)
                        if tv is NotImplemented:
                            continue
                        top = op if tr == "identity" else {"<": "<=", ">": ">="}.get(op, op)
                        pv = part.get(name)
                        if pv is not None and not _range_overlaps(top, tv, pv, pv):
                            ok = False
                            break
                    if not ok:
                        break
                    if col not in by_name:
                        continue
                    fid, t = by_name[col]
                    if fid not in lb or fid not in ub:
                        continue
                    if not _range_overlaps(op, v, _deser_bound(lb[fid], t), _deser_bound(ub[fid], t)):
                        ok = False
                        break
                if ok:
                    keep.append(d["file_path"])
        return keep

    def clustering_information(self, cols: list[str], sample_cap: int = 2000) -> dict:
        """SYSTEM$CLUSTERING_INFORMATION emulation from the manifest bounds
        (metadata-only — the same [lower, upper] boxes plan_files prunes
        on). Two files 'overlap' when their bound boxes intersect on EVERY
        clustering column; 'depth' of a file = how many boxes contain its
        lower corner (a stabbing count — 1 = perfectly clustered). Snowflake
        samples partitions for this; we cap at the first ``sample_cap``
        files so the O(n^2) stays metadata-scale."""
        _v, meta = self._read_metadata()
        fields = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )["fields"]
        by_name = {
            f["name"].lower(): (f["id"], f["type"])
            for f in fields
            if isinstance(f["type"], str)
        }
        cols = [c.lower() for c in cols]
        for c in cols:
            if c not in by_name:
                raise ValueError(f"unknown clustering column {c}")
        current = next(
            (s for s in meta.get("snapshots", [])
             if s["snapshot-id"] == meta.get("current-snapshot-id")),
            None,
        )
        boxes: list[list[tuple]] = []
        total = 0
        if current is not None:
            for mf in _read_avro_records(current["manifest-list"]):
                if mf.get("content") == 1:
                    continue
                for e in _read_avro_records(mf["manifest_path"]):
                    if e["status"] == _STATUS_DELETED:
                        continue
                    total += 1
                    if len(boxes) >= sample_cap:
                        continue
                    d = e["data_file"]
                    lb = {x["key"]: x["value"] for x in (d.get("lower_bounds") or [])}
                    ub = {x["key"]: x["value"] for x in (d.get("upper_bounds") or [])}
                    box = []
                    for c in cols:
                        fid, t = by_name[c]
                        if fid not in lb or fid not in ub:
                            box = None  # unbounded file overlaps everything
                            break
                        box.append((_deser_bound(lb[fid], t), _deser_bound(ub[fid], t)))
                    boxes.append(box)
        n = len(boxes)

        def intersects(a, b) -> bool:
            if a is None or b is None:
                return True
            return all(alo <= bhi and blo <= ahi for (alo, ahi), (blo, bhi) in zip(a, b))

        def contains_corner(b, a) -> bool:  # does box b contain a's lower corner
            if a is None or b is None:
                return True
            return all(blo <= alo <= bhi for (alo, _ahi), (blo, bhi) in zip(a, b))

        overlaps = [sum(1 for j in range(n) if j != i and intersects(boxes[i], boxes[j]))
                    for i in range(n)]
        depths = [sum(1 for j in range(n) if contains_corner(boxes[j], boxes[i]))
                  for i in range(n)]
        hist: dict[str, int] = {}
        for dep in depths:
            hist[str(dep)] = hist.get(str(dep), 0) + 1
        return {
            "cluster_by_keys": f"LINEAR({', '.join(cols)})",
            "total_partition_count": total,
            "sampled_partition_count": n,
            "average_overlaps": round(sum(overlaps) / n, 4) if n else 0.0,
            "average_depth": round(sum(depths) / n, 4) if n else 0.0,
            "partition_depth_histogram": dict(sorted(hist.items(), key=lambda kv: int(kv[0]))),
        }

    def _candidate_files(self, cond_str: str | None) -> list[str] | None:
        conds = parse_simple_conjuncts(cond_str)
        return self.plan_files(conds) if conds else None

    # -- merge-on-read positional deletes (spec: "Position Delete Files") --
    #
    # DELETE/UPDATE with `write.delete.mode=merge-on-read` never rewrite
    # data files: they commit a tiny parquet file of (file_path, pos) rows
    # (spec field-ids 2147483546/2147483545) and every subsequent scan
    # anti-joins it away. At 100 TB this turns "delete 1k rows spread over
    # 1k × 1 GB files" from a 1 TB rewrite (copy-on-write) into a KB-sized
    # write; the read-side cost is one anti-join against a dataset that is
    # ~rows-deleted big (AQE broadcasts it while small). OPTIMIZE folds the
    # deletes back into data files. Parity: the reference's Iceberg tables
    # declare format-version 2 merge-on-read capability via PyIceberg
    # (reference duckdb.py:274-334); the mechanism here is the spec's.

    _PATH_NORM = r"^file:(//)?"

    def _delete_mode(self) -> str:
        return self.get_property("write.delete.mode", "copy-on-write")

    # Broadcast an equality-delete key file only below this on-disk size
    # (parquet, so ~2-4x this in memory on the build side). Matches the
    # spirit of spark.sql.autoBroadcastJoinThreshold's default order of
    # magnitude; overridable per-table via a property.
    _EQ_DELETE_BROADCAST_BYTES = 32 * 1024 * 1024

    def _eq_delete_broadcastable(self, path: str) -> bool:
        limit = int(
            self.get_property(
                "read.eq-delete.broadcast-bytes", str(self._EQ_DELETE_BROADCAST_BYTES)
            )
        )
        try:
            size = os.path.getsize(re.sub(self._PATH_NORM, "", path))
        except OSError:
            return False  # unknown size: let AQE decide, never force
        return size <= limit

    def _scan_with_pos(self, spark, files: list[str], delete_files: list[str],
                       eq_entries: list[dict] | None = None):
        """Scan `files` with `__path`/`__pos` columns (normalized file path
        + row position from the parquet reader's `_metadata.row_index` —
        computed JVM-side, no UDF) and `delete_files` anti-joined away.
        `eq_entries` [{"path","cols","seq"}] additionally anti-join EQUALITY
        deletes, restricted by the spec's sequence rule: a key row deletes
        only from data files whose sequence number is STRICTLY SMALLER than
        the delete's — the join condition carries `__fseq < seq`, so a
        re-inserted key in a newer file survives. Typical key sets are tiny
        and broadcast, but the hint is SIZE-GATED: a CDC backfill can ship an
        equality-delete batch with millions of keys, and a mandatory
        broadcast of that would OOM executors at scale — above the gate the
        join runs un-hinted (AQE shuffles it, splitting skew as needed). The
        per-file sequence map is metadata-sized (always broadcast)."""
        df = super()._read_files(spark, files)
        df = df.withColumn(
            "__path", F.regexp_replace(F.col("_metadata.file_path"), self._PATH_NORM, "")
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if delete_files:
            dels = spark.read.schema("file_path string, pos bigint").parquet(*delete_files).select(
                F.col("file_path").alias("__dpath"), F.col("pos").alias("__dpos")
            )
            df = df.join(
                dels,
                (df["__path"] == dels["__dpath"]) & (df["__pos"] == dels["__dpos"]),
                "left_anti",
            )
        if eq_entries:
            norm = re.compile(self._PATH_NORM)
            seq_rows = [
                (norm.sub("", p), s) for p, s in self._file_seq_map().items()
            ]
            seq_df = spark.createDataFrame(seq_rows, "__mpath string, __fseq int")
            df = df.join(
                F.broadcast(seq_df), df["__path"] == seq_df["__mpath"], "left"
            ).drop("__mpath")
            for e in eq_entries:
                keys = spark.read.parquet(e["path"]).select(
                    *[F.col(c).alias(f"__k_{c}") for c in e["cols"]]
                )
                cond = F.col("__fseq") < F.lit(e["seq"])
                for c in e["cols"]:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__k_{c}"))
                if self._eq_delete_broadcastable(e["path"]):
                    keys = F.broadcast(keys)
                df = df.join(keys, cond, "left_anti")
            df = df.drop("__fseq")
        return df

    def _read_files(self, spark, files: list[str], deletes: list[str] | None = None,
                    eq_entries: list[dict] | None = None):
        """`deletes`/`eq_entries`=None applies the CURRENT snapshot's
        positional/equality deletes — the right default for every
        DML/compaction path, which all operate on current files (a rewrite
        must not resurrect MoR-deleted rows). Pass explicit lists ([] or a
        historical snapshot's) to override."""
        if deletes is None:
            deletes = self.current_delete_files()
        if eq_entries is None:
            eq_entries = self.eq_entries_at()
        if not files or (not deletes and not eq_entries):
            return super()._read_files(spark, files)
        return self._scan_with_pos(spark, files, deletes, eq_entries).drop(
            "__path", "__pos"
        )

    def read(self, spark, snapshot_id=None, timestamp_ms=None):
        files = self.files_at(snapshot_id, timestamp_ms)
        if not files:
            return super().read(spark, snapshot_id, timestamp_ms)
        # time travel applies THAT snapshot's delete files, not the current
        return self._read_files(
            spark, files,
            deletes=self.deletes_at(snapshot_id, timestamp_ms),
            eq_entries=self.eq_entries_at(snapshot_id, timestamp_ms),
        )

    def _affected_files(self, spark, match, candidates=None) -> dict[str, int]:
        """Files holding rows that `match` -> their matching-row counts, in
        ONE grouped job over the candidate (else current) files with the
        current deletes applied."""
        files = candidates if candidates is not None else self.current_files()
        if not files:
            return {}
        scan = self._scan_with_pos(spark, files, self.current_delete_files(), self.eq_entries_at())
        if _file_bytes(files) <= split_bytes(spark):
            scan = scan.coalesce(1)  # one partition: the grouping needs no exchange
        rows = (
            scan.filter(match)
            .groupBy("__path")
            .count()
            .collect()
        )
        return {r["__path"]: r["count"] for r in rows}

    def _tagged_read(self, spark, files: list[str] | None = None):
        """Scan of `files` (default: the current snapshot's) with each row's
        `__path`/`__pos`, current deletes applied; None when there are no
        data files."""
        files = files if files is not None else self.current_files()
        if not files:
            return None
        return self._scan_with_pos(spark, files, self.current_delete_files(), self.eq_entries_at())

    def _write_position_deletes(self, positions) -> list[str]:
        """Write (file_path, pos) rows as spec-conformant position-delete
        parquet: field-ids 2147483546/2147483545 (via Spark's parquet
        field-id metadata), rows sorted by (file_path, pos) within each
        file as the spec requires."""
        out = os.path.join(self.root, "data", f"delete-{uuid.uuid4().hex[:12]}")
        (
            positions.repartition(1)
            .sortWithinPartitions("file_path", "pos")
            .withMetadata("file_path", {"parquet.field.id": 2147483546})
            .withMetadata("pos", {"parquet.field.id": 2147483545})
            .write.parquet(out)
        )
        return sorted(
            os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
        )

    @staticmethod
    def _delete_targets(delete_files: list[str]) -> list[str]:
        """Distinct data files a set of position-delete files points at —
        the liveness set a MOR commit must validate (validateDataFilesExist).
        Read back from the just-written local parquet (metadata-scale; no
        extra Spark scan)."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        targets: set[str] = set()
        for f in delete_files:
            targets.update(pq.read_table(f, columns=["file_path"])["file_path"].to_pylist())
        return sorted(targets)

    def delete_where(self, spark, match, cond_str: str | None = None):
        if self._delete_mode() != "merge-on-read":
            return super().delete_where(spark, match, cond_str=cond_str)
        candidates = self._candidate_files(cond_str)
        if candidates is not None and not candidates:
            return 0, 0
        files = candidates if candidates is not None else self.current_files()
        if not files:
            return 0, 0
        base_dels = self.current_delete_files()
        # scan only metadata-pruned candidates, with existing deletes applied
        # so already-deleted rows are not re-counted or re-written
        matched = (
            self._scan_with_pos(spark, files, base_dels, self.eq_entries_at())
            .filter(match)
            .select(F.col("__path").alias("file_path"), F.col("__pos").alias("pos"))
        )
        n = matched.count()
        if not n:
            return 0, 0
        new_dels = self._write_position_deletes(matched)
        self._commit_delta(
            "delete", added=[], removed=[],
            delete_files=base_dels + new_dels, base_delete_files=base_dels,
            required_live=self._delete_targets(new_dels),
        )
        return n, 0  # zero data files rewritten — the point of merge-on-read

    def update_where(self, spark, match, assign_exprs, cond_str: str | None = None):
        if self._delete_mode() != "merge-on-read":
            return super().update_where(spark, match, assign_exprs, cond_str=cond_str)
        candidates = self._candidate_files(cond_str)
        if candidates is not None and not candidates:
            return 0, 0
        files = candidates if candidates is not None else self.current_files()
        if not files:
            return 0, 0
        base_dels = self.current_delete_files()
        hit = self._scan_with_pos(spark, files, base_dels, self.eq_entries_at()).filter(match)
        hit.cache()
        try:
            n = hit.count()
            if not n:
                return 0, 0
            # MoR UPDATE = position-delete the old rows + append the new ones
            new_dels = self._write_position_deletes(
                hit.select(F.col("__path").alias("file_path"), F.col("__pos").alias("pos"))
            )
            cols = [c for c in hit.columns if c not in ("__path", "__pos")]
            # cast assignments back to the table's column types: the new file
            # sits NEXT TO the old ones and mergeSchema cannot reconcile e.g.
            # an INT-typed literal with a BIGINT column
            ttypes = dict(hit.dtypes)
            updated = hit.select(
                *[
                    F.expr(assign_exprs[c]).cast(ttypes[c]).alias(c)
                    if c in assign_exprs
                    else F.col(c)
                    for c in cols
                ]
            )
            new_data = self._write_files(updated)
        finally:
            hit.unpersist()
        self._commit_delta(
            "update", added=new_data, removed=[],
            delete_files=base_dels + new_dels, base_delete_files=base_dels,
            required_live=self._delete_targets(new_dels),
        )
        return n, 0

    def clone(self, new_root: str, replace: bool = False) -> "IcebergTable":
        """Snowflake-style ZERO-COPY CLONE: a new table whose first snapshot
        references the source's current data files BY PATH — no byte is
        copied; only manifest-sized metadata is written. Copy-on-write DML
        keeps the tables independent afterwards (either side's changes
        write NEW files), and each table's expire_snapshots deletes only
        files under its own root, so a clone can never reclaim the
        source's storage (ownership rule in expire_snapshots). Positional
        delete files carry over as-is; equality deletes commit as a SECOND
        snapshot so their sequence number stays above the data's (same
        applicability as in the source). Snowflake clone semantics: the
        clone starts from the source's CURRENT state; source history does
        not travel."""
        if os.path.exists(new_root):
            if not replace:
                raise ValueError(f"iceberg table already exists at {new_root}")
            shutil.rmtree(new_root)
        os.makedirs(os.path.join(new_root, "data"))
        t = IcebergTable(new_root)
        os.makedirs(t._meta_dir)
        _v, meta = self._read_metadata()
        new_meta = json.loads(json.dumps(meta))
        new_meta.update(
            {
                "table-uuid": str(uuid.uuid4()),
                "location": new_root,
                "snapshots": [],
                "snapshot-log": [],
                "metadata-log": [],
                "refs": {},
                "last-sequence-number": 0,
                "last-updated-ms": int(time.time() * 1000),
            }
        )
        new_meta.pop("current-snapshot-id", None)
        if not t._cas_write_version(0, new_meta):
            raise CommitConflict(f"clone target {new_root} already initializing")
        t._append_snapshot(
            self.current_files(), "append", delete_files=self.current_delete_files()
        )
        eq = self.eq_entries_at()
        if eq:
            t._commit_delta(
                "delete", added=[], removed=[],
                add_eq_delete_files=[{"path": e["path"], "cols": e["cols"]} for e in eq],
            )
        return t

    # -- named refs (spec: `refs` map — branches and tags) ------------------

    def create_ref(self, name: str, kind: str = "branch",
                   snapshot_id: int | None = None) -> None:
        """Record a named ref in the metadata's `refs` map (spec v2):
        {"snapshot-id": N, "type": "branch"|"tag"}. A metadata-only commit;
        tags pin a snapshot for retention/reproducibility (training-data
        versioning: tag the corpus a model trained on), branches name a
        line of history. Ref'd snapshots survive expire_snapshots."""
        if kind not in ("branch", "tag"):
            raise ValueError("ref type must be 'branch' or 'tag'")
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
            if sid is None or all(s["snapshot-id"] != sid for s in meta.get("snapshots", [])):
                raise ValueError(f"unknown snapshot {sid}")
            meta.setdefault("refs", {})[name] = {"snapshot-id": sid, "type": kind}
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict(f"create_ref({name}) lost the commit race")

    def drop_ref(self, name: str) -> None:
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            if name not in meta.get("refs", {}):
                raise ValueError(f"unknown ref {name!r}")
            del meta["refs"][name]
            meta["last-updated-ms"] = int(time.time() * 1000)
            if self._cas_write_version(v, meta):
                return
        raise CommitConflict(f"drop_ref({name}) lost the commit race")

    def resolve_ref(self, name: str) -> int:
        _v, meta = self._read_metadata()
        ref = meta.get("refs", {}).get(name)
        if ref is None:
            raise ValueError(f"unknown ref {name!r}")
        return ref["snapshot-id"]

    def refs(self) -> dict[str, dict]:
        _v, meta = self._read_metadata()
        return dict(meta.get("refs", {}))

    def equality_delete(self, spark, keys_df: DataFrame, cols: list[str]) -> int:
        """EQUALITY delete (spec data_file content=2): write the key tuples
        as a delete file and commit — NO data scan, no positions, O(keys)
        regardless of table size. This is the write side CDC sinks need:
        Flink/Debezium-style upsert streams delete by key at ingest rate,
        where a positional delete would first have to scan for matches.
        Rows in data files with sequence number >= the delete's are NOT
        affected (spec sequencing), so a later re-insert survives.
        -> number of key rows written."""
        cols = [c.lower() for c in cols]
        keys = keys_df.select(*cols).distinct().coalesce(1)
        paths = self._write_files(keys)
        n = sum(self._footers[p].num_rows for p in paths)
        self._commit_delta(
            "delete", added=[], removed=[],
            add_eq_delete_files=[{"path": p, "cols": cols} for p in paths],
        )
        return n

    def upsert(self, spark, rows_df: DataFrame, key_cols: list[str]) -> tuple[int, int]:
        """CDC upsert in ONE commit: an equality delete on the batch's keys
        plus an append of the batch rows. The new data files carry the SAME
        sequence number as the delete, and equality deletes apply only to
        strictly smaller sequences — so the delete erases old versions of
        the keys while the batch's own rows survive. This is exactly how
        Flink's Iceberg upsert sink commits. -> (rows_upserted, files_rewritten=0)."""
        key_cols = [c.lower() for c in key_cols]
        tdf = self.read(spark)
        rows_df = rows_df.select(*tdf.columns)
        new = self._write_files(rows_df)
        keys = rows_df.select(*key_cols).distinct().coalesce(1)
        kpaths = self._write_files(keys)
        n = sum(self._footers[p].num_rows for p in new)
        self._commit_delta(
            "upsert", added=new, removed=[],
            add_eq_delete_files=[{"path": p, "cols": key_cols} for p in kpaths],
        )
        return n, 0

    def metadata_table(self, spark, kind: str):
        """Metadata tables read straight from the Iceberg metadata chain
        (the counts come from the manifests, not a data scan)."""
        _v, meta = self._read_metadata()
        if kind == "snapshots":
            return spark.createDataFrame(
                [
                    (
                        s["snapshot-id"],
                        s.get("parent-snapshot-id"),
                        s["sequence-number"],
                        s["timestamp-ms"],
                        s["summary"]["operation"],
                        s["manifest-list"],
                    )
                    for s in meta.get("snapshots", [])
                ],
                "snapshot_id bigint, parent_id bigint, sequence_number bigint, "
                "timestamp_ms bigint, operation string, manifest_list string",
            )
        if kind == "history":
            return spark.createDataFrame(
                [(h["timestamp-ms"], h["snapshot-id"]) for h in meta.get("snapshot-log", [])],
                "timestamp_ms bigint, snapshot_id bigint",
            )
        if kind == "refs":
            rows = [
                (n, r["type"].upper(), r["snapshot-id"])
                for n, r in sorted(meta.get("refs", {}).items())
            ]
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id bigint"
            )
        current = next(
            (s for s in meta.get("snapshots", []) if s["snapshot-id"] == meta.get("current-snapshot-id")),
            None,
        )
        mlist = _read_avro_records(current["manifest-list"]) if current else []
        if kind == "manifests":
            return spark.createDataFrame(
                [
                    (
                        m["manifest_path"],
                        m["manifest_length"],
                        m["partition_spec_id"],
                        m["added_snapshot_id"],
                        m["added_files_count"],
                        m["existing_files_count"],
                        m["deleted_files_count"],
                        m["added_rows_count"],
                        m["existing_rows_count"],
                    )
                    for m in mlist
                ],
                "path string, length bigint, partition_spec_id int, added_snapshot_id bigint, "
                "added_data_files_count int, existing_data_files_count int, "
                "deleted_data_files_count int, added_rows_count bigint, existing_rows_count bigint",
            )
        if kind == "files":
            rows = []
            for m in mlist:
                kind_label = "POSITION_DELETES" if m.get("content") == 1 else "DATA"
                for e in _read_avro_records(m["manifest_path"]):
                    if e["status"] == _STATUS_DELETED:
                        continue
                    d = e["data_file"]
                    rows.append(
                        (d["file_path"], d["file_format"], d["record_count"],
                         d["file_size_in_bytes"], kind_label)
                    )
            return spark.createDataFrame(
                rows,
                "file_path string, file_format string, record_count bigint, "
                "file_size_in_bytes bigint, content string",
            )
        raise ValueError(f"no metadata table ${kind}")

    # -- maintenance -------------------------------------------------------

    def compact(self, spark, target_files: int | None = None,
                zorder_by: list[str] | None = None) -> tuple[int, int]:
        """Small-file compaction (iceberg-spark's rewrite_data_files): read
        the current snapshot, rewrite it as ~target_files larger files, and
        commit a `replace` snapshot. History is untouched — old snapshots
        still reference the old files until expire_snapshots. At 100 TB this
        is the defragmentation pass that keeps scan task counts sane after
        many small streaming/merge appends. `zorder_by` re-lays the data on
        the Morton key over those columns (OPTIMIZE ... ZORDER BY): files
        get tight multi-dimensional bounds, so plan_files prunes on ANY of
        the z-columns, not just a leading sort key.
        -> (files_before, files_after)"""
        files = self.current_files()
        deletes = self.current_delete_files()
        if target_files is None:
            # ~128 MB target, the parquet sweet spot
            total = sum(os.path.getsize(f) for f in files)
            target_files = max(1, total // (128 << 20) + (1 if total % (128 << 20) else 0))
        if len(files) <= target_files and not deletes and not zorder_by and not self.eq_entries_at():
            return len(files), len(files)
        # _read_files applies outstanding positional deletes, so compaction
        # doubles as Iceberg's rewrite_position_delete_files: the new
        # snapshot carries no delete files at all
        df = self._read_files(spark, files, deletes=deletes)
        if zorder_by:
            from universql_spark.operators.scale import zorder_files  # noqa: PLC0415

            df = zorder_files(df, zorder_by, n_files=int(target_files))
        else:
            df = df.coalesce(int(target_files))
        new = self._write_files(df)
        # Delta commit: a concurrent append's files survive the compaction
        # (only the files this rewrite READ are replaced); a concurrent
        # rewrite of one of them, or new positional deletes, conflict.
        self._commit_delta(
            "replace", added=new, removed=files, delete_files=[], base_delete_files=deletes,
            eq_delete_files=[],  # folded: rewritten files outsequence every eq delete
        )
        return len(files), len(new)

    def expire_snapshots(self, keep_last: int = 1) -> tuple[int, int]:
        """Drop all but the last `keep_last` snapshots and DELETE data files
        no surviving snapshot references (Iceberg's expire_snapshots
        maintenance). Bounds metadata growth and reclaims storage; time
        travel remains for the kept window. -> (snapshots_removed,
        data_files_deleted)"""
        for _ in range(MAX_COMMIT_RETRIES):
            v, meta = self._read_metadata()
            snaps = meta.get("snapshots", [])
            if keep_last < 1 or len(snaps) <= keep_last:
                return 0, 0
            # named refs pin their snapshots (spec: expiry honors refs)
            pinned = {r["snapshot-id"] for r in meta.get("refs", {}).values()}
            tail = snaps[-keep_last:]
            kept = [s for s in snaps if s["snapshot-id"] in pinned or s in tail]
            dropped = [s for s in snaps if s not in kept]
            if not dropped:
                return 0, 0
            live: set[str] = set()
            for s in kept:
                live.update(self._live_files(s["manifest-list"]))
            # ownership rule for zero-copy clones: only files under THIS
            # table's root are this table's to delete — a clone references
            # the source's files by path and must never reclaim them (the
            # source does, under its own expiry).
            own = os.path.abspath(self.root) + os.sep
            dead: set[str] = set()
            for s in dropped:
                dead.update(
                    f
                    for f in self._live_files(s["manifest-list"])
                    if f not in live and os.path.abspath(f).startswith(own)
                )
            meta["snapshots"] = kept
            keep_ids = {s["snapshot-id"] for s in kept}
            meta["snapshot-log"] = [
                h for h in meta.get("snapshot-log", []) if h["snapshot-id"] in keep_ids
            ]
            meta["last-updated-ms"] = int(time.time() * 1000)
            # Commit the expiry FIRST, physically delete after: under a race
            # the loser must not have removed files a concurrent commit's
            # snapshot still references.
            if not self._cas_write_version(v, meta):
                continue
            for f in dead:
                if os.path.exists(f):
                    os.remove(f)
            for s in dropped:
                self._snapshot_files_memo.pop(s["manifest-list"], None)
                if os.path.exists(s["manifest-list"]):
                    os.remove(s["manifest-list"])
            self._version_cache.clear()
            return len(dropped), len(dead)
        raise CommitConflict(f"expire_snapshots lost the commit race {MAX_COMMIT_RETRIES} times")

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def _init(
        cls,
        root: str,
        schema: T.StructType,
        cluster_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> "IcebergTable":
        """Publish v1 metadata for a new table at root: schema 0 from the
        Spark schema, partition spec 0 from `partition_by` and sort order 1
        from `cluster_by` (both optional), no snapshots yet."""
        t = cls(root)
        if os.path.exists(t._meta_dir):
            raise ValueError(f"iceberg table already exists at {root}")
        next_id = [1]
        fields = _iceberg_fields(schema, next_id)
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": root,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": next_id[0] - 1,
            "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
            "current-schema-id": 0,
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            # identity keeps the column name; transforms get
                            # the conventional <col>_<transform> field name
                            "name": src if tr == "identity" else f"{src}_{tr.split('[')[0]}",
                            "transform": tr,
                            "source-id": next(
                                f["id"] for f in fields if f["name"].lower() == src
                            ),
                            "field-id": 1000 + i,
                        }
                        for i, (src, tr) in enumerate(
                            _parse_partition_entry(c) for c in (partition_by or [])
                        )
                    ],
                }
            ],
            "default-spec-id": 0,
            # partition field ids start at 1000
            "last-partition-id": 999 + len(partition_by or []),
            "sort-orders": [{"order-id": 0, "fields": []}]
            if not cluster_by
            else [
                {"order-id": 0, "fields": []},
                {
                    "order-id": 1,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": next(
                                f["id"] for f in fields if f["name"].lower() == c.lower()
                            ),
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                        for c in cluster_by
                    ],
                },
            ],
            "default-sort-order-id": 0 if not cluster_by else 1,
            "properties": {"write.format.default": "parquet"}
            | ({_INEXACT_PROP: "true"} if _spark_types_inexact(schema) else {}),
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(t._meta_dir)
        with open(t._version_path(1), "w") as f:
            json.dump(meta, f, indent=1)
        with open(t._hint_path, "w") as f:
            f.write("1")
        return t

    @classmethod
    def create(
        cls,
        root: str,
        df: DataFrame,
        cluster_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> "IcebergTable":
        """`cluster_by` = Snowflake clustering keys: the data is
        range-clustered on those columns before the first write (so files
        get tight, mostly-disjoint [min,max] bounds on them → manifest
        file skipping on cluster-key predicates) and the keys are recorded
        as the table's Iceberg sort order. `partition_by` = IDENTITY
        partition spec: recorded as spec-id 0 fields (ids from 1000), data
        files each belong to one partition tuple, manifests carry the
        typed partition struct, and plan_files() prunes on it."""
        if cluster_by:
            df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
        t = cls._init(root, df.schema, cluster_by, partition_by)
        files = t._write_files(df)
        t._append_snapshot(files, "append")
        return t


#: SnapshotTable operation names -> Iceberg snapshot summary operations
_ICEBERG_OP = {
    "append": "append",
    "merge": "overwrite",
    "update": "overwrite",
    "delete": "delete",
    "truncate": "delete",
    "replace": "replace",  # compaction: data identical, files rewritten
}
