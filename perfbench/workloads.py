"""Seeded request streams for the benchmark workloads.

Everything here is pure Python: the seed picks the order of requests and
the constants inside their SQL, and the engine only ever sees the generated
text. Each stream is cut into rounds (balanced sets: every round of a
workload holds the same mix of request kinds), so a run
that stops at a round boundary measures the same distribution whatever the
seed or the number of rounds that fit in the window.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace


@dataclass(frozen=True)
class Request:
    """One client request.

    ``kind`` is ``"sql"`` (sent to ``/queries/v1/query-request``) or
    ``"spec"`` (an operator-library spec built through its Python builder;
    ``text`` is then the spec name). ``oracle`` is the DuckDB text whose
    result the response must equal (None: the status reply is enough).
    ``replay`` holds the DuckDB statements that mirror a write, so later
    checks of the same table have an oracle. ``session`` is the index of the
    workload's REST session that sends it."""

    name: str
    kind: str
    text: str
    oracle: str | None = None
    fmt: str = "arrow"
    write: bool = False
    replay: tuple[str, ...] = ()
    session: int = 0


def _rng(seed: int, *key: object) -> random.Random:
    return random.Random(":".join(str(k) for k in (seed, *key)))


# -- interactive_sf01 ---------------------------------------------------------

#: operator-library bench specs have no SQL form; they run through their
#: Python builders, as ``bench.py`` runs them
SPEC_PREFIXES = ("ann_", "dedup_", "text_", "join_asof", "stream_")
#: headline specs left out: the three costliest to run cold (38 of the 125
#: thread-seconds of the 27-spec cold pass on 4 cores), and multi-stage
#: execution (IVF training, LSH banding, TF-IDF) rather than planning-bound
#: work; with them a run no longer fits the per-run time budget (see README)
EXCLUDED = ("ann_ivf_topk", "dedup_minhash_lsh", "text_tfidf_topk")


def interactive_items(registry: dict) -> list[Request]:
    """The headline bench specs but ``EXCLUDED`` as requests: ``cb_*`` send
    ``spec.sql``, TPC-H sends its oracle text (the same ``_Q*_SQL`` its
    builder runs), operator specs go through their builders."""
    items = []
    for name, spec in sorted(registry.items()):
        if not spec.bench or name in EXCLUDED:
            continue
        if name.startswith(SPEC_PREFIXES):
            items.append(Request(name, "spec", name, oracle=spec.oracle))
        else:
            items.append(Request(name, "sql", spec.sql or spec.oracle, oracle=spec.oracle))
    return items


def interactive_round(items: list[Request], seed: int, rnd: int) -> list[Request]:
    """Every spec once, in a seeded order. One round outlasts the window, so
    a run measures exactly one round; a second would not fit the per-run
    time budget (see README)."""
    out = list(items)
    _rng(seed, "interactive", rnd).shuffle(out)
    return out


# -- result_transfer ----------------------------------------------------------

LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS l_shipdate"
)
ORDERS_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority"
)
#: dbgen sf0.1 order keys span 1..600000 with ~1 lineitem row and ~0.25
#: orders rows per key unit, so a key range of width w returns ~w lineitem
#: rows or ~w/4 orders rows
MAX_ORDERKEY = 600_000
#: (table, result format, target rows): an odd count of distinct sizes, so
#: the median lands inside one size class rather than between two. JSON
#: sizes are capped: the JSON rowset encoder costs ~30x Arrow per row.
TRANSFER_LADDER = (
    ("lineitem", "arrow", 10_000),
    ("lineitem", "arrow", 40_000),
    ("orders", "arrow", 60_000),
    ("lineitem", "json", 5_000),
    ("lineitem", "arrow", 120_000),
    ("orders", "json", 15_000),
    ("lineitem", "arrow", 300_000),
)


def transfer_round(seed: int, rnd: int) -> list[Request]:
    rng = _rng(seed, "transfer", rnd)
    out = []
    for table, fmt, rows in TRANSFER_LADDER:
        width = rows if table == "lineitem" else rows * 4
        lo = rng.randint(1, MAX_ORDERKEY - width)
        cols, key = (LINEITEM_COLS, "l_orderkey") if table == "lineitem" else (ORDERS_COLS, "o_orderkey")
        sql = f"SELECT {cols} FROM {table} WHERE {key} BETWEEN {lo} AND {lo + width - 1}"
        out.append(Request(f"{table}_{fmt}_{rows}", "sql", sql, oracle=sql, fmt=fmt))
    rng.shuffle(out)
    return out


# -- sessions_rw --------------------------------------------------------------

#: two sessions, driven in turn from one client thread: the engine runs one
#: statement at a time under its execution lock, so client threads add no
#: throughput, only run-to-run noise (which session wins the lock, hence
#: which reads find the result cache cleared by another session's write)
RW_SESSIONS = 2
#: sessions at or above this index log in as older connectors do, with
#: JSON result format (a per-session login parameter, not a SET)
RW_JSON_FROM = 1
#: cheap interactive reads mixed into every session (result-cache eligible:
#: ``USE_CACHED_RESULT`` stays at its default on this workload)
RW_READS = ("cb_q00", "cb_q04", "cb_q15", "cb_q20", "tpch_q6")
#: rows of the per-cycle lineitem range scan: above the protocol's 10k-row
#: chunk size, so Arrow sessions fetch a result chunk
RW_SCAN_ROWS = 15_000
RW_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
RW_WRITES = ("insert", "update", "delete", "merge")


def rw_table(session: int) -> str:
    return f"rw_s{session}"


def rw_create(session: int) -> Request:
    """Each session's own Iceberg table (~2.3k orders rows: one of 64
    customer-key residues), recreated per run: per-write cost grows with
    snapshot history."""
    t = rw_table(session)
    select = f"SELECT {RW_COLS} FROM orders WHERE o_custkey % 64 = {session}"
    return Request(
        f"create_{t}", "sql", f"CREATE OR REPLACE ICEBERG TABLE {t} AS {select}",
        write=True, replay=(f"CREATE OR REPLACE TABLE {t} AS {select}",), session=session,
    )


def rw_check(session: int) -> Request:
    t = rw_table(session)
    # integer aggregates only: exact and order-independent on both engines
    sql = (
        f"SELECT COUNT(*) AS n, SUM(o_orderkey) AS sk, SUM(o_custkey) AS sc, "
        f"COUNT(DISTINCT o_orderstatus) AS ns FROM {t}"
    )
    return Request(f"check_{t}", "sql", sql, oracle=sql)


def _rw_write(kind: str, session: int, rng: random.Random) -> Request:
    t = rw_table(session)
    if kind == "insert":
        j = rng.randrange(RW_SESSIONS, 64)
        sql = f"INSERT INTO {t} SELECT {RW_COLS} FROM orders WHERE o_custkey % 64 = {j}"
        return Request("insert", "sql", sql, write=True, replay=(sql,))
    if kind == "update":
        m, d = rng.randrange(13), rng.randrange(1, 1000)
        sql = f"UPDATE {t} SET o_custkey = o_custkey + {d}, o_orderstatus = 'X' WHERE o_orderkey % 13 = {m}"
        return Request("update", "sql", sql, write=True, replay=(sql,))
    if kind == "delete":
        m = rng.randrange(31)
        sql = f"DELETE FROM {t} WHERE o_custkey % 31 = {m}"
        return Request("delete", "sql", sql, write=True, replay=(sql,))
    # half the source matches the session's own rows (updates), half not (inserts)
    j = rng.randrange(RW_SESSIONS, 64)
    src = f"SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey % 64 IN ({session}, {j})"
    # 0e0, not CAST(0 AS DOUBLE): the engine's MERGE grammar ends a VALUES
    # list at its first ')' and silently drops the clause otherwise
    sql = (
        f"MERGE INTO {t} t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey + 1 "
        f"WHEN NOT MATCHED THEN INSERT ({RW_COLS}) "
        "VALUES (s.o_orderkey, s.o_custkey, 'M', 0e0, 'M')"
    )
    # DuckDB has no MERGE: the same effect as UPDATE of the matched keys,
    # then INSERT of the unmatched ones (the update keeps every key)
    replay = (
        f"UPDATE {t} SET o_custkey = s.o_custkey + 1 FROM ({src}) s WHERE {t}.o_orderkey = s.o_orderkey",
        f"INSERT INTO {t} SELECT s.o_orderkey, s.o_custkey, 'M', 0e0, 'M' "
        f"FROM ({src}) s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM {t})",
    )
    return Request("merge", "sql", sql, write=True, replay=replay)


def _rw_cycle(read_items: dict[str, Request], seed: int, session: int, k: int) -> list[Request]:
    """Cycle ``k`` of a session: two cheap reads, a range scan and two checks
    of its own table around one write. Write kinds rotate per cycle, the
    sessions two kinds apart."""
    rng = _rng(seed, "rw", session, k)
    reads = [read_items[n] for n in rng.sample(RW_READS, 2)]
    lo = rng.randint(1, MAX_ORDERKEY - RW_SCAN_ROWS)
    sql = f"SELECT {LINEITEM_COLS} FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {lo + RW_SCAN_ROWS - 1}"
    scan = Request("scan", "sql", sql, oracle=sql, fmt="json" if session >= RW_JSON_FROM else "arrow")
    write = _rw_write(RW_WRITES[(k + 2 * session) % len(RW_WRITES)], session, rng)
    check = rw_check(session)
    return [replace(r, session=session) for r in (reads[0], check, scan, write, check, reads[1])]


def _interleave(streams: list[list[Request]]) -> list[Request]:
    """The sessions' streams taken in turn, one request each."""
    return [r for group in zip(*streams, strict=True) for r in group]


#: cycles per session in a round: every write kind once per session
RW_CYCLES = len(RW_WRITES)


def rw_round(read_items: dict[str, Request], seed: int, rnd: int) -> list[Request]:
    """One round: ``RW_CYCLES`` cycles of each session, interleaved request
    by request, so a round holds each write kind twice and every seed gives
    the same set of writes (the seed picks their constants) in the same
    places. A round outlasts the window, so every run measures exactly one
    round."""
    ks = range(RW_CYCLES * rnd, RW_CYCLES * (rnd + 1))
    return _interleave(
        [[r for k in ks for r in _rw_cycle(read_items, seed, s, k)] for s in range(RW_SESSIONS)]
    )


def rw_warm(read_items: dict[str, Request], seed: int) -> list[Request]:
    """The untimed warm-up: every cheap read once (a read first met in the
    window would run cold), then two cycles of each session before round 0,
    so between them the sessions write each kind once."""
    first = [replace(read_items[n], session=i % RW_SESSIONS) for i, n in enumerate(RW_READS)]
    return first + _interleave(
        [[r for k in (-2, -1) for r in _rw_cycle(read_items, seed, s, k)] for s in range(RW_SESSIONS)]
    )
