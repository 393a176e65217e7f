"""Snapshot-table logic: Iceberg's data model, persistence left to a subclass.

The reference's entire table abstraction is catalog-managed Iceberg
(warehouse/snowflake.py:97-111 resolves tables to Iceberg metadata;
duckdb.py:223-225 reads them via iceberg_scan; duckdb.py:274-334 CTAS
creates them through PyIceberg). This container has no iceberg-spark
runtime jar, so this module re-derives the MECHANISM — the part that makes
Iceberg Iceberg — from first principles on plain parquet:

- a table is a list of SNAPSHOTS, each naming immutable data files
  (`_load()` returns the logical state {"snapshots": [{id, timestamp_ms,
  operation, files[], delete_files[], eq_delete_files[]}], plus the
  schema-evolution logs});
- readers plan from a snapshot's file list under the table's schema
  (`spark.read.schema(S).parquet(*files)`: no schema-inference job), so
  every read is a consistent point-in-time view and TIME TRAVEL is just
  reading an older snapshot;
- writes never mutate files: appends add files + a new snapshot;
  DELETE/UPDATE/MERGE are FILE-GRANULAR copy-on-write — ONE grouped job
  over the matched rows finds the files that hold them (a file-path
  aggregate that also yields the row counts), ONLY those files are
  rewritten, into one file per target size of the bytes they held, and
  the new snapshot lists (live - affected) + rewritten + appended.

The one persistence is iceberg_format.IcebergTable (Iceberg v2 metadata +
Avro manifests): it supplies `_load`/`_commit`, the read schema, the file
targeting and the merge-on-read paths, and reaches the shared
read/write/DML code here through super().

File-granular COW is what Iceberg's copy-on-write write mode does. At 100
TB the file-path aggregate is a narrow one over matched rows only (filter
pushdown cuts the scan), and the rewrite touches as many bytes as the
matched files hold — independent of table size.

Concurrency: commits are DELTA-based (added/removed files) and go through
an optimistic retry loop. `_commit` is IcebergTable's HadoopCatalog
compare-and-swap (exclusive creation of the next vN.metadata.json — the
loser's create fails and the operation REBASES: appends re-apply on the
winner's snapshot, rewrites re-validate that every file they rewrote is
still live and raise CommitConflict if not — Iceberg's snapshot-isolation
validation).
"""
from __future__ import annotations

import os
import re
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: a concurrent commit invalidated this
    operation (a file it rewrote is no longer live) or the commit lost the
    version race more times than MAX_COMMIT_RETRIES."""


MAX_COMMIT_RETRIES = 10


class NondeterministicMergeError(ValueError):
    """Snowflake's ERROR_ON_NONDETERMINISTIC_MERGE=TRUE behavior: a target
    row matched by more than one source row."""


NONDETERMINISTIC_MERGE = (
    "MERGE: a target row matches more than one source row (ERROR_ON_NONDETERMINISTIC_MERGE)"
)


# -- write sizing -----------------------------------------------------------
#
# A write aims at files of the session's scan split size
# (spark.sql.files.maxPartitionBytes), so each file is one scan task. Small
# writes then produce one file instead of one per input partition, and the
# next statement's scan, listing and manifest costs stay flat.


def split_bytes(spark: SparkSession) -> int:
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def coalesce_to_bytes(df: DataFrame, nbytes: int) -> DataFrame:
    """df coalesced to ceil(nbytes / split size) partitions. coalesce never
    adds partitions, so a write never gets more than df already has."""
    n = max(1, -(-nbytes // split_bytes(df.sparkSession)))
    return df.coalesce(n) if n < 2**31 else df


#: plan nodes whose presence makes the size estimate unusable for sizing a
#: write: without CBO a Join's estimate multiplies its inputs, and a
#: repartition (REPARTITION/COALESCE hint, DISTRIBUTE BY, REBALANCE) is a
#: layout the statement asked for
_UNSIZED_PLAN_RE = re.compile(
    r"^[\s:+\-|]*(?:Join|Repartition|RepartitionByExpression|RebalancePartitions)\b", re.M
)


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimized plan's sizeInBytes, or None when the plan has a join
    or an explicit layout (see _UNSIZED_PLAN_RE)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if _UNSIZED_PLAN_RE.search(plan.toString()):
        return None
    return int(plan.stats().sizeInBytes())


def right_sized(df: DataFrame) -> DataFrame:
    """New data sized from its plan estimate; df unchanged when the
    estimate cannot be used."""
    nbytes = estimated_bytes(df)
    return df if nbytes is None else coalesce_to_bytes(df, nbytes)


def _file_bytes(files: list[str]) -> int:
    """Bytes of data files (a copy-on-write rewrite is sized to them)."""
    return sum(os.path.getsize(re.sub(r"^file:(//)?", "", f)) for f in files)


# -- row rules of DELETE / UPDATE / MERGE, shared by every table kind ---------


def delete_survivors(df: DataFrame, match) -> DataFrame:
    """The rows a DELETE keeps: those whose condition is not TRUE (a NULL
    condition keeps the row)."""
    return df.filter(~F.coalesce(match, F.lit(False)))


def apply_assignments(df: DataFrame, match, assign_exprs: dict[str, str]) -> DataFrame:
    """df with UPDATE's assignments applied to the matching rows. Every
    value reads the original row (SET a = b, b = a swaps)."""
    return df.select(
        *[
            F.when(match, F.expr(assign_exprs[c])).otherwise(F.col(c)).alias(c)
            if c in assign_exprs
            else F.col(c)
            for c in df.columns
        ]
    )


def merge_writes(rows: DataFrame):
    """The rows a MERGE writes out of its tagged rows (`__action` 'U', 'I'
    or 'K'; see engine_dml.Merge), and a function that returns the
    statement's counts, observed on the write job, once it has run."""
    obs = Observation()
    counted = rows.observe(
        obs,
        *[
            F.expr(f"count_if(__action = '{a}') AS rows_{name}")
            for a, name in (("I", "inserted"), ("U", "updated"), ("D", "deleted"))
        ],
    )
    return counted.filter("__action IN ('U', 'I', 'K')").drop("__action"), lambda: dict(obs.get)


def _promotion(old: T.DataType, new: T.DataType) -> bool:
    """Iceberg's legal type promotions: int -> long, float -> double,
    decimal(P, S) -> decimal(P', S) with P' > P."""
    if isinstance(old, T.IntegerType):
        return isinstance(new, T.LongType)
    if isinstance(old, T.FloatType):
        return isinstance(new, T.DoubleType)
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return new.scale == old.scale and new.precision > old.precision
    return False


class SnapshotTable:
    """Snapshot and copy-on-write logic over the logical state a subclass
    persists: `_load()` -> state dict, `_commit(state)` -> False when the
    commit lost the optimistic race (the caller re-loads and retries). The
    subclass also supplies the schema (`_spark_schema`, `_read_schema`,
    `_promote`), the targeting scans (`_affected_files`, `_tagged_read`)
    and `_nonempty` over the files it wrote."""

    def __init__(self, root: str):
        self.root = root

    # -- metadata ----------------------------------------------------------

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def current_files(self) -> list[str]:
        return self.snapshots()[-1]["files"]

    def current_delete_files(self) -> list[str]:
        """Positional-delete files of the current snapshot (Iceberg v2
        merge-on-read)."""
        return self.deletes_at()

    def deletes_at(self, snapshot_id: int | None = None, timestamp_ms: int | None = None) -> list[str]:
        snaps = self.snapshots()
        if snapshot_id is not None:
            for s in snaps:
                if s["id"] == snapshot_id:
                    return s.get("delete_files", [])
            raise ValueError(f"unknown snapshot {snapshot_id}")
        if timestamp_ms is not None:
            live: list[str] = []
            for s in snaps:
                if s["timestamp_ms"] <= timestamp_ms:
                    live = s.get("delete_files", [])
            return live
        return snaps[-1].get("delete_files", []) if snaps else []

    def eq_entries_at(
        self, snapshot_id: int | None = None, timestamp_ms: int | None = None
    ) -> list[dict]:
        """Equality-delete entries [{"path", "cols", "seq"}] live at a
        snapshot. `seq` is the SEQUENCE NUMBER of the committing snapshot
        (its 1-based position), the spec's applicability key: an equality
        delete removes matching rows only from data files with a strictly
        SMALLER sequence number — which is what lets a later re-insert of
        the same key survive (CDC ordering)."""
        snaps = self.snapshots()
        first_eq: dict[str, int] = {}
        for i, s in enumerate(snaps):
            for e in s.get("eq_delete_files", []):
                first_eq.setdefault(e["path"], i + 1)
        target: dict | None = None
        if snapshot_id is not None:
            target = next((s for s in snaps if s["id"] == snapshot_id), None)
            if target is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
        elif timestamp_ms is not None:
            for s in snaps:
                if s["timestamp_ms"] <= timestamp_ms:
                    target = s
        else:
            target = snaps[-1] if snaps else None
        if target is None:
            return []
        return [
            {**e, "seq": first_eq[e["path"]]} for e in target.get("eq_delete_files", [])
        ]

    def _file_seq_map(self) -> dict[str, int]:
        """data file -> sequence number of the snapshot that added it."""
        out: dict[str, int] = {}
        for i, s in enumerate(self.snapshots()):
            for f in s["files"]:
                out.setdefault(f, i + 1)
        return out

    def files_at(self, snapshot_id: int | None = None, timestamp_ms: int | None = None) -> list[str]:
        snaps = self.snapshots()
        if snapshot_id is not None:
            for s in snaps:
                if s["id"] == snapshot_id:
                    return s["files"]
            raise ValueError(f"unknown snapshot {snapshot_id}")
        if timestamp_ms is not None:
            live: list[str] | None = None
            for s in snaps:
                if s["timestamp_ms"] <= timestamp_ms:
                    live = s["files"]
            if live is None:
                raise ValueError(f"no snapshot at or before {timestamp_ms}")
            return live
        return snaps[-1]["files"]

    # -- data --------------------------------------------------------------

    def _write_files(self, df: DataFrame) -> list[str]:
        """Write df as new immutable parquet files; return their paths."""
        out = os.path.join(self.root, "data", uuid.uuid4().hex[:12])
        df.write.parquet(out)
        return sorted(
            os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
        )

    def _read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Read a file subset under the table's schema. With a read schema
        (`_read_schema`: the current schema plus the older names of renamed
        columns) there is no inference job: files written before an ADD
        COLUMN (Iceberg-style evolution, old files untouched) read it as
        NULL, and files written before a type promotion read widened.
        Tables whose Spark types do not round-trip through Iceberg types
        (`_read_schema` None) keep mergeSchema inference, which unions the
        per-file schemas."""
        meta = self._load()
        schema = self._read_schema()
        if schema is None:
            df = spark.read.option("mergeSchema", "true").parquet(*files)
            for col, sql_type in meta.get("added_columns", []):
                if col not in df.columns:
                    df = df.withColumn(col, F.lit(None).cast(sql_type))
        elif files:
            df = spark.read.schema(schema).parquet(*files)
        else:
            df = spark.createDataFrame([], schema)
        # drop/rename are metadata ops applied at read time.  After
        # `RENAME COLUMN a TO b`, pre-rename files physically hold `a` and
        # post-rename files hold `b`; the read schema then has both, each
        # NULL outside its era, so coalesce stitches them into one logical
        # column — the same per-file identity Iceberg gets from field-ids
        # (name reuse after drop/rename is refused at ALTER time, which is
        # what keeps the name→field mapping unambiguous without ids).
        for op in meta.get("schema_ops", []):
            if op[0] == "drop":
                if op[1] in df.columns:
                    df = df.drop(op[1])
            elif op[0] == "rename":
                old, new = op[1], op[2]
                if old in df.columns and new in df.columns:
                    df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
                elif old in df.columns:
                    df = df.withColumnRenamed(old, new)
        return df

    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             timestamp_ms: int | None = None) -> DataFrame:
        files = self.files_at(snapshot_id, timestamp_ms)
        if files or self._read_schema() is not None:
            return self._read_files(spark, files)
        # empty table read by inference: take the schema from any
        # historical snapshot's files
        for s in reversed(self.snapshots()):
            if s["files"]:
                return self._read_files(spark, s["files"]).limit(0)
        raise ValueError("table has no data files in any snapshot")

    def add_column(self, col: str, sql_type: str) -> None:
        """Schema evolution as a METADATA operation: no file is rewritten;
        readers surface the column as NULL for pre-evolution files."""
        for _ in range(MAX_COMMIT_RETRIES):
            meta = self._load()
            self._check_name_fresh(meta, col)
            meta.setdefault("added_columns", []).append([col, sql_type])
            if self._commit(meta):
                return
        raise CommitConflict(f"add_column({col}) lost the commit race {MAX_COMMIT_RETRIES} times")

    def drop_column(self, col: str) -> None:
        """DROP COLUMN without rewriting a byte: the column stays in the
        files and is projected away at read (Iceberg drops the field from
        the current schema the same way; column pruning means the dead
        bytes are never even decoded)."""
        for _ in range(MAX_COMMIT_RETRIES):
            meta = self._load()
            meta.setdefault("schema_ops", []).append(["drop", col])
            meta.setdefault("retired_names", []).append(col)
            if self._commit(meta):
                return
        raise CommitConflict(f"drop_column({col}) lost the commit race {MAX_COMMIT_RETRIES} times")

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN as metadata: existing files keep the old physical
        name; the read path coalesces old- and new-era files into the new
        logical name (see _read_files)."""
        for _ in range(MAX_COMMIT_RETRIES):
            meta = self._load()
            self._check_name_fresh(meta, new)
            meta.setdefault("schema_ops", []).append(["rename", old, new])
            meta.setdefault("retired_names", []).append(old)
            if self._commit(meta):
                return
        raise CommitConflict(f"rename_column({old}) lost the commit race {MAX_COMMIT_RETRIES} times")

    @staticmethod
    def _check_name_fresh(meta: dict, name: str) -> None:
        """Refuse to reuse a name that was ever dropped or renamed away.
        Without per-file field-ids the name is the file↔schema join key, so
        reviving it would silently resurrect old files' values (Iceberg
        allows reuse because its parquet columns carry field-ids)."""
        if name in meta.get("retired_names", []):
            raise ValueError(
                f"column name {name!r} was previously dropped/renamed; "
                "name reuse requires field-id tracking and is not supported"
            )

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots — the mechanism under
        Snowflake STREAM objects: rows visible at `to` but not `from` are
        INSERTs, the reverse are DELETEs (an UPDATE surfaces as the pair).

        FILE-GRANULAR fast path: immutable files mean rows in files common
        to both snapshots cancel out of the diff, so only (files_to -
        files_from) and (files_from - files_to) are read — a 1-row append
        on a 100 TB table diffs one file, not the table. When row-level
        tombstones (positional/equality deletes) changed between the
        snapshots, the changed visibility can touch common files too, so
        the diff falls back to reading both sides whole (correctness
        first; tombstone-delta pruning is a future refinement). exceptAll
        keeps multiplicity, so duplicate rows diff correctly.
        """
        snaps = self.snapshots()
        to_id = to_snapshot_id if to_snapshot_id is not None else snaps[-1]["id"]
        f_from = self.files_at(from_snapshot_id)
        f_to = self.files_at(to_id)
        dels_from = self.deletes_at(from_snapshot_id)
        dels_to = self.deletes_at(to_id)
        eq_from = self.eq_entries_at(from_snapshot_id)
        eq_to = self.eq_entries_at(to_id)
        tombstones_changed = sorted(dels_from) != sorted(dels_to) or eq_from != eq_to
        if tombstones_changed:
            only_to = f_to
            only_from = f_from
        else:
            only_to = [f for f in f_to if f not in set(f_from)]
            only_from = [f for f in f_from if f not in set(f_to)]
        rows_to = rows_from = None
        if only_to:
            rows_to = self._read_files(spark, only_to, deletes=dels_to, eq_entries=eq_to)
        if only_from:
            rows_from = self._read_files(spark, only_from, deletes=dels_from, eq_entries=eq_from)
        if rows_to is None and rows_from is None:
            base = self.read(spark).limit(0)
            rows_to = rows_from = base
        elif rows_to is None:
            rows_to = rows_from.limit(0)
        elif rows_from is None:
            rows_from = rows_to.limit(0)
        ins = rows_to.exceptAll(rows_from).withColumn(
            "METADATA$ACTION", F.lit("INSERT")
        )
        dels = rows_from.exceptAll(rows_to).withColumn(
            "METADATA$ACTION", F.lit("DELETE")
        )
        return ins.unionByName(dels).withColumn("METADATA$ISUPDATE", F.lit(False))

    def truncate(self) -> int:
        """New empty snapshot; history (and time travel) keeps the data."""
        return self._append_snapshot([], "truncate", delete_files=[])

    def _append_snapshot(
        self, files: list[str], operation: str, delete_files: list[str] | None = None
    ) -> int:
        """Commit an ABSOLUTE file list (create/truncate semantics: the new
        snapshot is exactly `files`, regardless of concurrent commits).
        `delete_files=None` inherits the previous snapshot's positional
        deletes (appends and copy-on-write rewrites leave them applicable:
        they target exact file paths, and a rewritten file gets a NEW path,
        so stale entries can never match resurrected rows)."""
        for _ in range(MAX_COMMIT_RETRIES):
            meta = self._load()
            snaps = meta["snapshots"]
            sid = snaps[-1]["id"] + 1 if snaps else 1
            dfiles = delete_files
            if dfiles is None:
                dfiles = snaps[-1].get("delete_files", []) if snaps else []
            efiles = snaps[-1].get("eq_delete_files", []) if snaps else []
            snap = {
                "id": sid,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "files": files,
            }
            if dfiles:
                snap["delete_files"] = dfiles
            if efiles:
                snap["eq_delete_files"] = efiles
            snaps.append(snap)
            if self._commit(meta):
                return sid
        raise CommitConflict(f"{operation} lost the commit race {MAX_COMMIT_RETRIES} times")

    def _commit_delta(
        self,
        operation: str,
        added: list[str],
        removed: list[str],
        delete_files: list[str] | None = None,
        base_delete_files: list[str] | None = None,
        required_live: list[str] | None = None,
        eq_delete_files: list[dict] | None = None,
        add_eq_delete_files: list[dict] | None = None,
    ) -> int:
        """Optimistic DELTA commit: the new snapshot is
        (current live files - removed) + added, recomputed against the
        LATEST committed snapshot on every attempt.

        - Pure appends (removed == []) rebase automatically onto whatever a
          concurrent writer committed — no lost updates, like Iceberg's
          fast-append.
        - Rewrites validate that every file they replace is STILL live; a
          file concurrently rewritten or deleted raises CommitConflict
          (Iceberg's copy-on-write validation under snapshot isolation).
        - Overriding `delete_files` (e.g. compaction clearing positional
          deletes) additionally requires the delete-file set to be unchanged
          since the operation read it (`base_delete_files`); a concurrent
          merge-on-read DELETE otherwise silently loses its tombstones.
        - `required_live` names data files the operation depends on staying
          in the snapshot WITHOUT rewriting them — the files a merge-on-read
          commit's new positional deletes point at (Iceberg's
          validateDataFilesExist). If a concurrent compaction/COW rewrite
          replaced one, the new tombstones would dangle and the "deleted"
          rows silently resurrect; conflict instead.
        """
        removed_set = set(removed)
        for _ in range(MAX_COMMIT_RETRIES):
            meta = self._load()
            snaps = meta["snapshots"]
            current = snaps[-1]["files"] if snaps else []
            missing = removed_set - set(current)
            if missing:
                raise CommitConflict(
                    f"{operation}: {len(missing)} file(s) this operation rewrote were "
                    f"removed by a concurrent commit (e.g. {sorted(missing)[0]})"
                )
            if required_live:
                dangling = set(required_live) - set(current)
                if dangling:
                    raise CommitConflict(
                        f"{operation}: {len(dangling)} data file(s) targeted by this "
                        f"operation's positional deletes were rewritten or removed by a "
                        f"concurrent commit (e.g. {sorted(dangling)[0]})"
                    )
            cur_deletes = snaps[-1].get("delete_files", []) if snaps else []
            if delete_files is not None and base_delete_files is not None and sorted(
                cur_deletes
            ) != sorted(base_delete_files):
                raise CommitConflict(
                    f"{operation}: positional-delete files changed under the operation"
                )
            sid = snaps[-1]["id"] + 1 if snaps else 1
            snap = {
                "id": sid,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "files": [f for f in current if f not in removed_set] + added,
            }
            dfiles = cur_deletes if delete_files is None else delete_files
            if dfiles:
                snap["delete_files"] = dfiles
            # equality-delete entries [{"path", "cols"}] inherit like
            # positional tombstones; None inherits, a list replaces, and
            # `add_eq_delete_files` appends INSIDE the retry loop so a
            # concurrent writer's entries rebase instead of being dropped
            cur_eq = snaps[-1].get("eq_delete_files", []) if snaps else []
            efiles = cur_eq if eq_delete_files is None else eq_delete_files
            if add_eq_delete_files:
                efiles = efiles + add_eq_delete_files
            if efiles:
                snap["eq_delete_files"] = efiles
            snaps.append(snap)
            if self._commit(meta):
                return sid
        raise CommitConflict(f"{operation} lost the commit race {MAX_COMMIT_RETRIES} times")

    # -- operations --------------------------------------------------------

    def append(self, df: DataFrame) -> int:
        new = self._write_files(df)
        return self._commit_delta("append", added=new, removed=[])

    def replace_contents(self, df: DataFrame) -> int:
        """Full-refresh commit: the new snapshot is exactly df (history and
        time travel keep the old contents) — the materialization step of a
        dynamic table refresh."""
        new = self._write_files(df)
        return self._append_snapshot(new, "replace", delete_files=[])

    def _conform(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """df with the table's columns in its current types, so every file a
        commit adds matches the schema. A column whose new type is a legal
        Iceberg promotion of the current one (int -> long, float -> double,
        decimal precision widening) keeps it and the table's schema is
        promoted in a new schema entry; any other type is cast. Tables read
        by inference never promote: a mixed-type file set would not merge."""
        current = self._spark_schema()
        exact = current is not None
        if not exact:
            current = self.read(spark).schema
        have = {f.name: f.dataType for f in df.schema.fields}
        cols, promote = [], {}
        for f in current.fields:
            t = have[f.name]
            if t == f.dataType:
                cols.append(F.col(f.name))
            elif exact and _promotion(f.dataType, t):
                cols.append(F.col(f.name))
                promote[f.name] = t
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        if promote:
            self._promote(promote)
        return df.select(*cols)

    def delete_where(
        self, spark: SparkSession, match, cond_str: str | None = None
    ) -> tuple[int, int]:
        """-> (rows_deleted, n_files_rewritten); a row whose `match` is
        NULL survives."""
        hits = self._affected_files(spark, match, self._candidate_files(cond_str))
        if not hits:
            return 0, 0
        affected = sorted(hits)
        survivors = delete_survivors(self._read_files(spark, affected), match)
        new = self._nonempty(self._write_files(coalesce_to_bytes(survivors, _file_bytes(affected))))
        self._commit_delta("delete", added=new, removed=affected)
        return sum(hits.values()), len(affected)

    def update_where(
        self,
        spark: SparkSession,
        match,
        assign_exprs: dict[str, str],
        cond_str: str | None = None,
    ) -> tuple[int, int]:
        """-> (rows_updated, n_files_rewritten); simultaneous assignment."""
        hits = self._affected_files(spark, match, self._candidate_files(cond_str))
        if not hits:
            return 0, 0
        affected = sorted(hits)
        out = apply_assignments(self._read_files(spark, affected), match, assign_exprs)
        new = self._write_files(coalesce_to_bytes(self._conform(spark, out), _file_bytes(affected)))
        self._commit_delta("update", added=new, removed=affected)
        return sum(hits.values()), len(affected)

    def merge_apply(
        self,
        spark: SparkSession,
        source: DataFrame,
        cond,
        t_alias: str,
        merge,
        source_bytes: int | None = None,
    ) -> tuple[dict, int]:
        """File-granular MERGE in one targeting job and one write. The
        targeting groups the target-source join by file: those files are
        rewritten, and more join rows than distinct target rows is a row
        matched twice (NondeterministicMergeError). The write is one outer
        join of their rows with the source (`merge`: engine_dml.Merge),
        sized by the replaced bytes plus `source_bytes` (the source's plan
        estimate; None keeps the join's partitions). Without a WHEN MATCHED
        clause it is the source rows no target row matches. When the files
        and the source fit one scan split, each side is one partition and
        the joins sort-merge with no exchange: each job is one stage.
        -> ({rows_inserted, rows_updated, rows_deleted}, n_files_rewritten)"""
        affected: list[str] = []
        files = self.current_files() if merge.matched else []
        tagged = self._tagged_read(spark, files)
        nbytes = None if source_bytes is None else source_bytes + _file_bytes(files)
        small = bool(files) and nbytes is not None and nbytes <= split_bytes(spark)
        if small:
            source = source.coalesce(1).hint("merge")
        if tagged is not None:
            tagged = tagged.coalesce(1) if small else tagged
            joined = tagged.alias(t_alias).join(source, cond, "inner")
            rows = (
                # by file, once: an exchange both aggregation steps accept
                (joined if small else joined.repartition("__path"))
                .groupBy("__path")
                .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("__pos").alias("rows"))
                .collect()
            )
            if any(r["n"] > r["rows"] for r in rows):
                raise NondeterministicMergeError(NONDETERMINISTIC_MERGE)
            affected = sorted(r["__path"] for r in rows)
        if affected:
            if len(affected) < len(files):
                tagged = self._tagged_read(spark, affected)
                tagged = tagged.coalesce(1) if small else tagged
            out = merge.rows(tagged.alias(t_alias).join(source, cond, merge.how))
        elif merge.inserts:
            # no target row matches any source row
            unmatched = (
                source if merge.matched
                else source.join(self.read(spark).alias(t_alias), cond, "left_anti")
            )
            out = merge.rows(unmatched, with_target=False)
        else:
            return {"rows_inserted": 0, "rows_updated": 0, "rows_deleted": 0}, 0
        out, counts = merge_writes(out)
        replaced = _file_bytes(affected)
        if not merge.inserts:
            out = coalesce_to_bytes(out, replaced)
        elif source_bytes is not None:
            out = coalesce_to_bytes(out, replaced + source_bytes)
        new = self._nonempty(self._write_files(self._conform(spark, out)))
        self._commit_delta("merge", added=new, removed=affected)
        return counts(), len(affected)
