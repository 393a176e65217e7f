"""Deterministic sf0.1 fixture for the benchmark, built from source.

The engine's tables (``universql_spark.session.TESTDATA_TABLES``) are
generated here so the benchmark needs nothing outside its checkout:

- TPC-H tables come from DuckDB's statically linked ``dbgen(sf=0.1)``, cast
  to the engine's fixture schema (decimals -> double, dates -> timestamp,
  the fixture column subset; the same value remaps ``tools_scaling.py``
  applies so nation/part predicates stay selective);
- ``events`` (100k rows, 1.5k users, 30 days), ``documents`` (5k docs) and
  ``embeddings`` (2k unit vectors, 64-dim) follow the generators of
  ``tools_scaling_llm.py`` at a tenth of its scale.

Every table is written as ONE parquet row group, the shape the engine's
resident/bucketed layout step is built for. The fixture does not depend on
the benchmark seed: the seed drives the request stream, not the data.
"""

from __future__ import annotations

import os
import random
import shutil

#: table -> [(column, DuckDB type)] in fixture order
TPCH_SCHEMA: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "VARCHAR"), ("n_regionkey", "INTEGER")],
    "customer": [
        ("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_nationkey", "INTEGER"),
        ("c_acctbal", "DOUBLE"), ("c_mktsegment", "VARCHAR"),
    ],
    "supplier": [
        ("s_suppkey", "BIGINT"), ("s_name", "VARCHAR"), ("s_nationkey", "INTEGER"),
        ("s_acctbal", "DOUBLE"),
    ],
    "part": [
        ("p_partkey", "BIGINT"), ("p_name", "VARCHAR"), ("p_brand", "VARCHAR"),
        ("p_type", "VARCHAR"), ("p_size", "INTEGER"), ("p_retailprice", "DOUBLE"),
    ],
    "orders": [
        ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
        ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR"),
    ],
    "lineitem": [
        ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
        ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
        ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "VARCHAR"),
        ("l_linestatus", "VARCHAR"), ("l_shipdate", "TIMESTAMP"),
    ],
}

#: value remaps that keep the specs' literal predicates selective on dbgen
#: data (the repository's test fixtures name nations NATION_<key>, use one-word part
#: types and an 8x8 adjective-noun part-name vocabulary)
_OVERRIDES = {
    "n_name": "'NATION_' || CAST(n_nationkey AS VARCHAR)",
    "p_type": "split_part(p_type, ' ', 1)",
    "p_name": (
        "list_value('small','hot','red','blue','large','old','cold','new')[(p_partkey % 8) + 1]"
        " || ' ' || list_value('widget','plate','gear','bolt','rod','ring','gizmo','anvil')"
        "[((p_partkey // 8) % 8) + 1]"
    ),
}

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data a "
    "join scale plan page read"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
N_DOCS, N_VECS = 5_000, 2_000
N_EVENTS, N_USERS = 100_000, 1_500


def _write(tbl, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def _tpch(out: str) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("LOAD tpch")
        con.execute("CALL dbgen(sf=0.1)")
        for t, cols in TPCH_SCHEMA.items():
            sel = ", ".join(f"CAST({_OVERRIDES.get(c, c)} AS {typ}) AS {c}" for c, typ in cols)
            _write(con.execute(f"SELECT {sel} FROM {t}").arrow(), f"{out}/{t}.parquet")
    finally:
        con.close()


def _documents_embeddings(out: str) -> None:
    import numpy as np
    import pyarrow as pa

    rng = random.Random(42)
    texts: list[str] = []
    rows = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 100 and r < 0.002:  # exact duplicate of an earlier doc
            text = texts[rng.randrange(len(texts))]
        elif i > 100 and r < 0.007:  # near-duplicate: 1-2 word substitutions
            words = texts[rng.randrange(len(texts))].split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
        rows.append((i, text, rng.choice(LANGS), f"src{rng.randrange(20)}", len(text)))
    _write(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        f"{out}/documents.parquet",
    )
    nrng = np.random.default_rng(42)
    centers = nrng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = nrng.integers(0, 10, N_VECS)
    x = centers[labels] + 0.35 * nrng.standard_normal((N_VECS, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(
                    [row.astype(np.float32).tolist() for row in x], pa.list_(pa.float32())
                ),
                "label": pa.array([int(v) for v in labels], pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )


def _events(out: str) -> None:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(4242)
    base_us = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(base_us + rng.integers(0, span_us, N_EVENTS))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    tidx = rng.choice(5, N_EVENTS, p=[0.45, 0.35, 0.1, 0.05, 0.05])
    k = rng.integers(0, 100, N_EVENTS)
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
                "event_type": pa.array(types[tidx], pa.string()),
                "value": pa.array(np.round(rng.uniform(0, 560, N_EVENTS), 2), pa.float64()),
                "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
            }
        ),
        f"{out}/events.parquet",
    )


def ensure(path: str) -> bool:
    """Build the fixture at ``path`` unless a complete one is there.

    Returns True when it was built by this call. The directory is written
    under a temporary name and renamed into place, so an interrupted build
    never leaves a half fixture that a later run would reuse (the engine
    keys its resident layout on each file's size and mtime)."""
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return False
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _tpch(tmp)
    _documents_embeddings(tmp)
    _events(tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run finished its build first: use that one
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_COMPLETE")):
            raise
    return True
