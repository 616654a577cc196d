"""Output checks: order-insensitive, exact value comparison of query
results against their DuckDB oracle, and the stage-table invariants of
the route DAG.

Results are reduced to a canonical form (columns sorted by name, rows
as tuples of plain Python values, rows sorted) before comparing, the
same normalization the suite's parity harness applies. Floats compare
exactly: the suite's determinism rules make bit-exact agreement with
the oracle attainable, so any drift is a defect, not noise.
"""

from __future__ import annotations

import hashlib
import math
import os

#: BDB stage tables that `run_dag` must return, with the key each must
#: hold unique (None: no key asserted, only non-empty)
DAG_KEYS = {
    "cleaned_player_data": None,
    "radius_data": ("gameId", "playId", "nflId", "frameId"),
    "reads_data": ("gameId", "playId"),
    "seconds_data": None,
    "dropback_timing": ("gameId", "playId"),
    "press_data": ("nflId",),
    "matchups": None,
}


def _value(v):
    if v is None or isinstance(v, (str, int)):
        return v  # bool is an int: True == 1, as the harness's int64 cast
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    raise TypeError(f"unsupported result value {type(v).__name__}")


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted column names, rows as sorted tuples in that column order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return tuple(columns[i] for i in order), out


def digest(canon) -> str:
    """Content hash of a canonical result."""
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def mismatch(got, want) -> str | None:
    """None when two canonical results agree, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {list(gc)} != oracle {list(wc)}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a!r} != oracle {b!r}"
    return None


def oracle_results(sql_by_query: dict[str, str], data_dir: str, tables) -> dict:
    """Run each oracle SQL in DuckDB (one thread per usable CPU) over
    the parquet tables in ``data_dir``; return canonical results keyed
    by query name."""
    import duckdb

    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in sql_by_query.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = canonical(cols, cur.fetchall())
        return out
    finally:
        con.close()


def dag_problems(results: dict) -> list[str]:
    """Invariants of one `run_dag` pass, given each stage table as a
    canonical result: the expected stage set, non-empty stages, and the
    stage keys `tests/test_pipelines.py` asserts unique."""
    problems = []
    if set(results) != set(DAG_KEYS):
        problems.append(f"stages {sorted(results)} != {sorted(DAG_KEYS)}")
    for name, key in DAG_KEYS.items():
        if name not in results:
            continue
        cols, rows = results[name]
        if not rows:
            problems.append(f"{name}: empty")
        if key is None:
            continue
        idx = [cols.index(k) for k in key]
        keys = [tuple(r[i] for i in idx) for r in rows]
        if len(set(keys)) != len(keys):
            problems.append(f"{name}: key {key} not unique")
    return problems
