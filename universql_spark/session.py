"""SparkSession factory + testdata registration.

Scale stance: these configs are written for local[32] testing but the knobs
are the ones that matter on a 1000-executor cluster too — AQE owns runtime
re-planning (partition coalescing, skew-join splitting), shuffle partitions
default to the core count locally and would be sized to ~2-3x total cores on
a real cluster, and Arrow is enabled for every Python<->JVM crossing.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: wrapper-object attribute memoizing the session UID (avoids the Py4J conf
#: round trip on every cache lookup — the whole point of the keyed caches is
#: Py4J economy)
_UID_ATTR = "_uqs_session_uid"


def session_uid(spark: SparkSession) -> str:
    """Session-LIFETIME unique id for keying driver-side memo caches.

    The r10 caches keyed on ``id(spark)``; CPython reuses object ids after
    garbage collection, so a torn-down session followed by a new one could
    in principle serve a stale JVM object from a dead gateway (VERDICT r10
    item 7). The UID lives in the session's runtime conf — JVM-side state
    that dies with the session and is shared by every Python wrapper of the
    same session — and is memoized on the wrapper object so repeated lookups
    cost zero Py4J round trips."""
    uid = getattr(spark, _UID_ATTR, None)
    if uid is None:
        import uuid  # noqa: PLC0415

        try:
            uid = spark.conf.get("spark.uqs.session.uid", None) or None
            if uid is None:
                uid = uuid.uuid4().hex
                spark.conf.set("spark.uqs.session.uid", uid)
        except Exception:
            # no settable conf (mock/Connect edge): fall back to a fresh
            # UUID per wrapper — never a stale hit, at worst a cache miss
            uid = uuid.uuid4().hex
        try:
            setattr(spark, _UID_ATTR, uid)
        except Exception:
            pass
    return uid


#: below this input size the session drops into SMALL-DATA mode: static
#: planning (AQE off) + few shuffle partitions. AQE's stage-by-stage
#: materialize-and-replan loop costs a fixed driver latency per exchange
#: (measured 30-50% of wall time on the sub-GB bench fixtures) and buys
#: nothing when every stage is a handful of MBs; at real scale the same
#: engine keeps AQE on — sizing the session to the data is the practitioner
#: move, not a different engine. The static planner still broadcasts small
#: sides via autoBroadcastJoinThreshold, so the physical join shapes match
#: the at-scale plans.
SMALL_DATA_BYTES = 512 * 1024 * 1024

#: autoBroadcastJoinThreshold: join sides under this size broadcast. The
#: dimension-table cache (register_testdata) gates on the same number, so
#: exactly the broadcast-class dims are cached.
BROADCAST_THRESHOLD_BYTES = 64 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    try:
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def get_spark(
    app_name: str = "universql_spark",
    cpus: int | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    """One tuned session per process.

    - AQE on: runtime partition coalescing + skew-join handling — this is the
      knob that makes the same plan work at sf0.001 and at 100 TB.
    - shuffle.partitions = core count locally; on a cluster this would be
      2-3x total executor cores (AQE coalesces the excess).
    - nanosAsLong: the events fixture stores TIMESTAMP(NANOS) which Spark's
      parquet reader refuses by default; we read the raw int64 and convert in
      the view layer (register_testdata) with `timestamp_micros(ts div 1000)`,
      matching DuckDB's ns->us truncation.
    - `sf_dir` (optional): lets the factory size the session to the DATA —
      inputs under SMALL_DATA_BYTES get static planning + 8 shuffle
      partitions (see SMALL_DATA_BYTES note); larger inputs keep the
      AQE-at-scale defaults.
    """
    n = cpus or default_cpus()
    data_bytes = _dir_bytes(sf_dir) if sf_dir is not None else None
    small = data_bytes is not None and data_bytes < SMALL_DATA_BYTES
    # static-mode shuffle width: 8 partitions across the whole sub-512MB
    # band. r6 keyed this on input size (>=64 MB -> core count) off a
    # measurement — q5 at SF1 19% faster at 32 — that the r9-r11 layout
    # work made obsolete: with the fact joins running as zero-exchange SMJs
    # over the co-bucketed tables, every static-mode shuffle left is a
    # post-partial-aggregation exchange of at most a few MB, where 32
    # reduce tasks are pure scheduling overhead. r11 re-measurement on the
    # 220 MB sf1 fixture (14-query pooled interleaved A/B, 32 cores):
    # static-8 Σ 6.45 s vs static-32 6.96 s vs AQE 7.96 s — 8 wins or ties
    # EVERY query including q1/q18/minhash, and 30-45% on the small-shuffle
    # cb/dedup paths. Above SMALL_DATA_BYTES, AQE owns partition sizing.
    small_parts = 8
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce to target SIZE, not parallelism: tiny post-shuffle stages
        # collapse to few tasks locally; at cluster scale 64 MB partitions
        # are the shuffle sweet spot and skew still splits via skewJoin
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        # local mode has no data locality to wait for; on a cluster the
        # default 3s wait trades latency for locality — here it's pure stall
        .config("spark.locality.wait", "0s")
        # split sizing for the resident layout (32 sub-MB files per table at
        # sf0.1): pack few files per task so scans fan out across cores.
        # Cluster guidance: keep the 128m default there — these values are
        # sized to the local fixture scale. r6 re-measurement (after the
        # r3-r5 optimizations shifted the replan tier scheduling-bound:
        # local task launch costs ~3-5 ms and a trivial job's wall is
        # task-count-dominated): 4m/128k beats the r3-chosen 2m/64k by 17%
        # on a 15-query probe (6.18 vs 7.48 s) by halving scan task counts;
        # shuffle.partitions stays 8 (4 regressed the CPU-bound operators).
        # r8: openCost raised 128k -> 2m so each ~1-2 MB resident file costs
        # a full half-bin — packing then assigns ONE file per task and every
        # resident scan fans out to all 32 files ≙ 32 cores (at 128k, two
        # files packed per task left half the cores idle on the CPU-bound
        # scans; interleaved A/B at sf0.1: −0.3 s suite, biggest wins on
        # scan-heavy cb_q*). Cluster guidance unchanged: keep defaults there.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "2m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_THRESHOLD_BYTES))
        # The engine writes its bucketed facts as exactly ONE sorted file
        # per bucket (_write_bucketed repartitions on the bucket key before
        # bucketBy().sortBy()), but Spark 3+ stopped reporting bucket sort
        # order from scans by default (file listing at planning was deemed
        # too expensive for arbitrary tables, SPARK-28169 lineage). For a
        # layout the engine itself guarantees, the listing is already
        # cached and the order is real: enabling this makes every
        # orderkey-equi SMJ over the co-bucketed facts ZERO-sort as well as
        # zero-exchange (r11: tpch_q18 median -18%, tpch_q3 -14% with the
        # MERGE(orders) hint). Correctness-safe by construction: Spark
        # still verifies <=1 file per bucket before claiming the order.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.warehouse.dir", "/tmp/universql_spark_warehouse")
    )
    if small:
        builder = builder.config("spark.sql.adaptive.enabled", "false").config(
            "spark.sql.shuffle.partitions", str(small_parts)
        )
    spark = builder.getOrCreate()
    if small:
        # getOrCreate may return an EXISTING session (configs above ignored
        # then); these two are runtime-settable, so apply unconditionally
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(small_parts))
    try:  # runtime-settable: cover getOrCreate returning an existing session
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    except Exception:  # noqa: BLE001 - advisory
        pass
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical column types.

    Conversions (kept HERE, once, so every query sees clean types):
    - events.ts: int64 nanos (via nanosAsLong) -> TimestampType at µs
      precision using integer division — `div` not `/` because float division
      of ~1.7e18 ns loses precision past 2^53.
    - any TIMESTAMP_NTZ column -> TimestampType (LTZ): fixture parquet that
      stores plain timestamp[us] without a timezone is inferred as NTZ by
      Spark 4; with the session pinned to UTC the cast is value-identical,
      and it keeps the whole engine on one timestamp type (functions like
      unix_micros are LTZ-only).
    """
    if name == "events":
        # The caller may hand us a vanilla SparkSession (the driver does);
        # nanosAsLong is a runtime-settable SQLConf, so set it here rather
        # than relying on get_spark()'s builder config.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    bkt = _bucketed_table(spark, sf_dir, name)
    if bkt is not None:
        df = spark.table(bkt)
    else:
        path = _resident_path(spark, sf_dir, name) or f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


#: Resident storage layout (an engine owns its layout — Snowflake ingests
#: into micro-partitions; Spark's unit of scan parallelism is the FILE).
#: The driver fixtures are single-file/single-ROW-GROUP parquet, which pins
#: every scan stage to ONE task no matter how many cores exist (a Spark
#: byte-range split without a row-group midpoint reads nothing). For any
#: such table above the size floor, rewrite it ONCE into a 32-file layout
#: under /tmp keyed by (size, mtime) — a few seconds at sf0.1, paid at
#: first registration (bench warmup), after which scans parallelize like
#: any production table would. Values are identical: same rows, engine-
#: canonical types applied after the read either way. Multi-row-group or
#: small sources are left untouched.
RESIDENT_DIR = os.environ.get("SPARK_GRAFT_RESIDENT_DIR", "/tmp/universql_spark_resident")
RESIDENT_MIN_BYTES = 256 * 1024
#: files per table scale with size: every fresh plan re-lists the files and
#: reads their footers, so a 0.6 MB table split 32 ways pays more in
#: metadata than it gains in scan width (measured +0.15s on the small
#: event/document queries at 32 flat). 512 KB per file, floor 8, cap 32.
RESIDENT_FILE_BYTES = 512 * 1024
RESIDENT_FILES_MIN = 8
RESIDENT_FILES_MAX = 32


#: Fact tables resident as BUCKETED tables, clustered by their dominant
#: join/aggregation key (r9 — VERDICT r8 'Next round' #2, exec-side attack).
#: Bucketing is Spark's co-located join primitive: with lineitem and orders
#: both hash-clustered on orderkey into the SAME bucket count, every
#: orderkey equi-join and orderkey-prefixed aggregation runs with ZERO
#: exchange on the fact side — the exact layout decision a 100 TB
#: deployment makes at ingest (Snowflake cluster keys, Iceberg bucket
#: transforms). Measured at sf0.1 (interleaved A/B, one file per bucket):
#: tpch_q18 885->254 ms, q3 487->372, q5 544->479, values hash-identical.
#: The write happens ONCE per fixture (keyed by size+mtime, shared across
#: processes); each new session re-attaches with a CREATE TABLE ...
#: CLUSTERED BY ... LOCATION DDL over the existing files (metadata-only).
BUCKETED_TABLES = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
}
#: tables that JOIN each other on the bucket key must share one bucket
#: count (Spark requires equal counts for exchange-free joins) — they
#: derive their count from a shared ANCHOR table's size. events/documents
#: only ever self-join on their key, so they anchor on themselves.
BUCKET_ANCHOR = {
    "lineitem": "lineitem",
    "orders": "lineitem",
    "events": "events",
    "documents": "documents",
}
#: below this source size bucketing is pure metadata overhead (sf0.001
#: tests); above it, 8 buckets for the MB-scale gate fixtures, 32 (= local
#: core count; a cluster would size to executor count) from the 4 MB wide
#: threshold up. r9 put documents wide from 256 KB on a work-volume
#: argument (tokenization explodes each row ~100x); the r10 interleaved
#: A/B at sf0.1 (0.6 MB source, dims cached) reversed that reading: 8
#: buckets wins or ties EVERY documents bench spec — dedup_exact best
#: 101 vs 126 ms, text_tfidf_topk 225 vs 260, text_tokens/minhash within
#: noise — because at sub-MB sources the per-task scheduling constant
#: (~1.5 ms x 32 tiny tasks) outweighs the extra scan width even for
#: CPU-amplified operators. Width keys on SOURCE bytes uniformly; sf1
#: documents (~6 MB) still goes 32-wide where the work volume is real.
BUCKET_MIN_BYTES = 256 * 1024
BUCKET_WIDE_MIN_BYTES = 4 * 1024 * 1024


def _prune_stale_variants(parent: str, prefix: str, keep: str) -> None:
    """Garbage-collect superseded resident/bucketed variants of one table.

    A regenerated fixture gets a new ident (size + st_mtime_ns); the old
    variant directories under RESIDENT_DIR would otherwise accumulate
    forever (ADVICE r9 #5). Only siblings with the SAME table prefix are
    touched, and only ones that are not the variant being attached — a
    concurrent process on the same (current) fixture shares `keep` and is
    unaffected; a process still reading a pruned variant was reading stale
    data by definition. Best-effort: errors are ignored.
    """
    try:
        for d in os.listdir(parent):
            if d == keep or not d.startswith(prefix):
                continue
            # resident keys are `{name}-...` and bucketed idents
            # `{name}_bkt...`; the prefix match is exact for both
            # namespaces. Skip ANY in-flight write dir (`*.tmp-<pid>`) —
            # a concurrent process may be materializing a newer variant.
            if ".tmp-" in d:
                continue
            import shutil  # noqa: PLC0415

            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    except OSError:
        pass


def _bucket_count(sf_dir: str, name: str) -> int:
    """Bucket count for a fact table — derived from its anchor's size so
    co-joining tables share ONE count; 0 disables bucketing."""
    try:
        size = os.stat(f"{sf_dir}/{BUCKET_ANCHOR[name]}.parquet").st_size
    except (OSError, KeyError):
        return 0
    if size < BUCKET_MIN_BYTES:
        return 0
    return 32 if size >= BUCKET_WIDE_MIN_BYTES else 8


#: Spark's bucket file-name convention (BucketingUtils): `..._<id>[.ext]`
_BUCKET_FILE_RE = re.compile(r"^[^._].*_(\d+)(?:\..*)?$")


def _files_per_bucket(path: str) -> Counter:
    """bucket id -> number of data files in a bucketed write's directory."""
    return Counter(int(m.group(1)) for f in os.listdir(path) if (m := _BUCKET_FILE_RE.match(f)))


def _write_bucketed(df: DataFrame, n: int, key: str, path: str, tmpname: str) -> None:
    """Write `df` to `path` as `n` buckets on `key`, each ONE file sorted on
    `key`. Repartitioning on the bucket key first gives each writer task
    one bucket's rows. Multiple files per bucket measured 1.5-2x slower
    scans, and they void the sort order get_spark() lets the scan report
    (bucketedTableScan.outputOrdering), so every SMJ over them would sort."""
    (
        df.repartition(n, F.col(key))
        .write.bucketBy(n, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(tmpname)
    )
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {tmpname}")  # external: files stay
    per_bucket = _files_per_bucket(path)
    assert per_bucket and set(per_bucket.values()) == {1}, f"files per bucket: {dict(per_bucket)}"


def _bucketed_table(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Materialize (once) and attach the bucketed resident form of a fact
    table; returns the catalog table name, or None when bucketing does not
    apply (small fixture / non-fact table / any failure -> caller falls
    back to the plain resident path)."""
    key = BUCKETED_TABLES.get(name)
    if key is None:
        return None
    n = _bucket_count(sf_dir, name)
    if n == 0:
        return None
    src = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(src)
    except OSError:
        return None
    if name == "events":
        # the raw read needs nanosAsLong before load_table sets it when the
        # bucketed write happens first
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001 - advisory
            pass
    # st_mtime_ns (not whole-second mtime): a fixture regenerated within the
    # same second with identical byte size must not silently serve the stale
    # bucketed copy (ADVICE r9 #5)
    ident = f"{name}_bkt{n}_{st.st_size}_{st.st_mtime_ns}"
    dest = os.path.join(RESIDENT_DIR, os.path.basename(sf_dir.rstrip("/")), ident)
    try:
        if not os.path.exists(os.path.join(dest, "_SUCCESS")):
            tmp = f"{dest}.tmp-{os.getpid()}"
            _write_bucketed(spark.read.parquet(src), n, key, tmp, f"uq_bkt_tmp_{name}_{os.getpid()}")
            try:
                os.rename(tmp, dest)
            except OSError:  # concurrent writer won the race — use theirs
                import shutil  # noqa: PLC0415

                shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(os.path.join(dest, "_SUCCESS")):
                return None
        _prune_stale_variants(os.path.dirname(dest), f"{name}_bkt", ident)
        cat = f"uq_bkt_{name}_{n}_{st.st_size}_{st.st_mtime_ns}"
        if not spark.catalog.tableExists(cat):
            schema = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(src).schema.fields
            )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {cat} ({schema}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS "
                f"LOCATION '{dest}'"
            )
        return cat
    except Exception:
        return None


def _resident_path(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    src = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(src)
    except OSError:
        return None
    if st.st_size < RESIDENT_MIN_BYTES:
        return None
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        md = pq.ParquetFile(src).metadata
    except Exception:
        return None
    if md.num_row_groups > 1:
        return None  # source already scan-parallel
    key = f"{name}-{st.st_size}-{st.st_mtime_ns}"
    dest = os.path.join(RESIDENT_DIR, os.path.basename(sf_dir.rstrip("/")), key)
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        _prune_stale_variants(os.path.dirname(dest), f"{name}-", key)
        return dest
    try:
        n = max(RESIDENT_FILES_MIN, min(RESIDENT_FILES_MAX, st.st_size // RESIDENT_FILE_BYTES))
        tmp = f"{dest}.tmp-{os.getpid()}"
        spark.read.parquet(src).repartition(int(n)).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:  # concurrent writer won the race — use theirs
            import shutil  # noqa: PLC0415

            shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            _prune_stale_variants(os.path.dirname(dest), f"{name}-", key)
            return dest
        return None
    except Exception:
        return None


#: Fixed/slow-growing dimension tables cached in executor memory when they
#: are broadcast-class anyway (source under BROADCAST_THRESHOLD_BYTES).
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

#: ClickBench `hits` derivation over events — ONE definition shared by the
#: cb_* specs (Spark side: this view; oracle side: the identical text as a
#: WITH-CTE, queries/clickbench.py). Registered as a DataFrame temp view so
#: the session catalog stores the ANALYZED plan: every cb replan then skips
#: re-parsing + re-analyzing this derivation (measured parse+analyze
#: −3..−25 ms per cb query, Σ14 bench subset −0.18 s, plan/values identical
#: — a CTE is inlined during analysis anyway; OPTIMIZATION_r10.md). This is
#: the engine-owns-its-schema move (a warehouse stores view definitions
#: analyzed, it does not re-derive them per statement), not result caching:
#: nothing is executed or materialized at registration.
HITS_SELECT = """SELECT event_id, ts, user_id, event_type, value, props,
       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k,
       CAST(user_id % 10 AS INT) AS r,
       CAST(user_id % 5 AS INT) AS s,
       CAST(user_id % 2 AS INT) AS b,
       CAST(ts AS DATE) AS d
FROM events"""


def _src_bytes(sf_dir: str, name: str) -> int:
    try:
        return os.stat(f"{sf_dir}/{name}.parquet").st_size
    except OSError:
        return 1 << 62


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after the table.

    Temp views keep the scan lazy: Catalyst still sees the parquet relation,
    so filter/column pushdown reaches the file scan (verify with
    ``df.explain("formatted")`` -> PushedFilters / ReadSchema).
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        if name in DIM_TABLES and _src_bytes(sf_dir, name) < BROADCAST_THRESHOLD_BYTES:
            # broadcast-class dimensions feed a hash-relation build job in
            # every star join; caching them serves those builds from memory
            # instead of re-decoding parquet per replan (measured -10% on
            # tpch_q5/q18 at sf0.1). The size gate keeps the policy honest
            # at scale: a dim too big to broadcast is too big to pin.
            # coalesce(1) (r11): every fresh star-join plan runs one
            # broadcast COLLECT job per dim; over the 8-32-partition cached
            # relation each job schedules 8-32 tasks to fetch a handful of
            # MBs (q3 broadcast collectTime 119 -> 72 ms, q18 90 -> 62 ms
            # single-partitioned). A dim under the broadcast threshold is
            # single-task-scan-sized by definition, so the cache holds it
            # as ONE partition and every collect is a 1-task job.
            df = df.coalesce(1).cache()
        df.createOrReplaceTempView(name)
        out[name] = df
    spark.sql(HITS_SELECT).createOrReplaceTempView("hits")
    return out
