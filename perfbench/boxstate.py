"""Box-state context carried by every result, and the memory reading.

The calibrations are the ones ``bench.py`` records: a single-core Python
spin, the same spin on every core at once, and one fixed DuckDB
aggregation over the fixture's lineitem. A run taken while the machine was
degraded then identifies itself. They are context, not metrics.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

#: the calibration loop, in a function so it runs on fast local variables
_SPIN = "def spin():\n    x = 0\n    for i in range(5_000_000):\n        x += i * i\n\nspin()\n"


def spin_calib() -> float:
    t0 = time.perf_counter()
    exec(_SPIN, {})  # noqa: S102 - fixed calibration loop
    return round(time.perf_counter() - t0, 4)


def mc_calib(nproc: int) -> float:
    """Wall time of ``nproc`` concurrent spin processes (interpreter start
    included; separate processes because one holds the GIL)."""
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN]) for _ in range(nproc)]
    for p in procs:
        p.wait()
    return round(time.perf_counter() - t0, 4)


def duck_calib(sf_dir: str) -> float:
    import duckdb

    con = duckdb.connect()
    try:
        q = (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), count(*) "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet') "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2"
        )
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(q).fetchall()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)
    finally:
        con.close()


def calibrate(sf_dir: str, nproc: int) -> dict:
    return {
        "spin_calib": spin_calib(),
        "mc_calib": mc_calib(nproc),
        "duck_calib": duck_calib(sf_dir),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
    }


def harness_sha(bench_dir: str) -> str:
    """Hash over the benchmark's own source files: two results with the
    same hash ran the same harness."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(bench_dir)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(bench_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the JVM
    and its Python workers), from ``/proc``: the sum of each process's own
    high-water mark."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo += _children(pid)
    return total / 1024
