"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical values, another seed draws a different world of the same
shape. Nothing here touches Spark; tables are written as single parquet
files with pyarrow, so generation time never leaks into set-up time.

Two families:

- ``write_corpus``: the suite tables the corpus queries read through
  ``sources.io.load_table`` (``orders``, ``lineitem``, ``documents``,
  ``embeddings``). Column names, physical types and value domains
  follow the TPC-H-ish test tables of TESTDATA.md that the suite's
  oracle parity was built on (uniform keys and prices, 5 %
  near-duplicate documents made by appending ``dup`` to an earlier
  text, unit-norm 64-d embeddings), scaled by ``sf`` the same way
  (lineitem = 6M x sf).
- ``write_bdb``: the BDB star schema of ``schemas.BASE_TABLES``,
  following FIXTURES.md: 10 Hz frames; 11 defenders, 5 route runners,
  one QB and one football row per frame; field 0-120 x 0-53.3; events
  ordered line_set < ball_snap (gap > 2 s) < pass_forward (>= 7 ball
  frames after it) < pass_arrived.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the suite tables the corpus queries read (q74: documents, lineitem,
#: orders; q82: embeddings)
CORPUS_TABLES = ("orders", "lineitem", "documents", "embeddings")

_WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(a: str, b: str) -> tuple[int, int]:
    lo = (np.datetime64(a, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(b, "D") - _EPOCH).astype(int)
    return int(lo), int(hi)


def _date_col(rng, n: int, a: str, b: str) -> pa.Array:
    lo, hi = _days(a, b)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates: a later doc repeats an earlier text plus one or two
    # trailing "dup" tokens, so the banded funnel has real pairs to verify
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dims: int = 64) -> dict:
    m = rng.standard_normal((n, dims)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def corpus_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``, plus the customer,
    supplier and part key ranges the fact tables draw from."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def write_corpus(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus queries' tables for ``seed`` at scale ``sf``
    into ``out``; return their row counts."""
    out.mkdir(parents=True, exist_ok=True)
    n = corpus_sizes(sf)
    rng = np.random.default_rng([seed, 1])
    c, s, p, o, li = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), o).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _date_col(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o).tolist(), pa.string()),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), li).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), li).tolist(), pa.string()),
        "l_shipdate": _date_col(rng, li, "1995-01-02", "2001-11-04"),
    })
    _write(out, "documents", _documents(rng, n["documents"]))
    _write(out, "embeddings", _embeddings(rng, n["embeddings"]))
    return {t: n[t] for t in CORPUS_TABLES}


# --------------------------------------------------------------- BDB

_TEAMS = ("ARI", "ATL", "BAL", "BUF", "CAR", "CHI", "CIN", "CLE", "DAL", "DEN")
_ROUTES = (
    "GO", "SLANT", "OUT", "IN", "POST", "CORNER", "CROSS", "HITCH", "FLAT",
    "SCREEN", "WHEEL", "ANGLE",
)
_COVERAGES = ("Cover-1", "Cover-2", "Cover-3", "Cover-6", "2-Man", "Quarters")
_ASSIGNMENTS = (
    "MAN", "HOL", "HCL", "HCR", "CFL", "CFR", "2L", "2R", "3L", "3M", "3R",
    "4IL", "4IR", "4OL", "4OR", "FL", "FR", "DF", "PRE",
)
_DEF_POS = ("CB", "CB", "CB", "S", "S", "OLB", "OLB", "MLB", "DE", "DE", "DT")

PLAYS_PER_GAME = 2

#: frame layout of every play (10 Hz): line_set at 1, ball_snap 2.4 s
#: later, pass_forward, then 9 ball frames in flight to pass_arrived
SNAP_FRAME, PASS_FRAME, ARRIVED_FRAME, N_FRAMES = 25, 31, 40, 42


def _arrow_schema(struct) -> pa.Schema:
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
    )

    kinds = {
        LongType: pa.int64(),
        IntegerType: pa.int32(),
        DoubleType: pa.float64(),
        StringType: pa.string(),
        BooleanType: pa.bool_(),
    }
    return pa.schema(
        [pa.field(f.name, kinds[type(f.dataType)], f.nullable) for f in struct]
    )


def _clock(frame: int) -> str:
    # 10 Hz wall clock with a variable number of fraction digits
    sec = 10 + frame // 10
    tenth = frame % 10
    base = f"2022-09-08 20:{sec // 60:02d}:{sec % 60:02d}"
    return base if tenth == 0 else f"{base}.{tenth}"


def write_bdb(out: Path, seed: int, n_plays: int) -> dict[str, int]:
    """Write the five BDB base tables for ``seed`` into ``out`` (one
    parquet file each); return their row counts."""
    from bigdatabowl2024_25_spark import schemas

    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    rows: dict[str, list] = {t: [] for t in schemas.BASE_TABLES}
    n_games = math.ceil(n_plays / PLAYS_PER_GAME)
    for g in range(n_games):
        game_id = 2022090800 + g
        home, away = rng.choice(_TEAMS, 2, replace=False).tolist()
        rows["games"].append((game_id, home, away, g % 9 + 1))
        off = [game_id % 1000 * 1000 + 100 + i for i in range(6)]
        dfn = [game_id % 1000 * 1000 + 200 + j for j in range(11)]
        rows["players"] += [(off[0], f"QB_{g}", "QB")]
        rows["players"] += [
            (pid, f"REC_{g}_{i}", "TE" if i == 5 else "WR")
            for i, pid in enumerate(off[1:], 1)
        ]
        rows["players"] += [
            (pid, f"DEF_{g}_{j}", _DEF_POS[j]) for j, pid in enumerate(dfn)
        ]
        n_here = min(PLAYS_PER_GAME, n_plays - g * PLAYS_PER_GAME)
        for p in range(n_here):
            _bdb_play(rng, rows, game_id, 100 + 7 * p, home, away, off, dfn)

    counts = {}
    for name, struct in schemas.BASE_TABLES.items():
        schema = _arrow_schema(struct)
        cols = list(zip(*rows[name]))
        arrays = [pa.array(list(c), f.type) for c, f in zip(cols, schema)]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), out / f"{name}.parquet")
        counts[name] = len(rows[name])
    return counts


def _bdb_play(rng, rows, game_id, play_id, home, away, off, dfn) -> None:
    # Every play has the same frame count and event frames, so each seed
    # gives the DAG the same number of rows; positions, speeds, routes and
    # coverages vary.
    snap, pass_f, arrived, n_frames = SNAP_FRAME, PASS_FRAME, ARRIVED_FRAME, N_FRAMES
    events = {1: "line_set", snap: "ball_snap", pass_f: "pass_forward",
              arrived: "pass_arrived"}
    los = float(rng.uniform(25.0, 85.0))
    target = int(rng.integers(1, 6))
    rows["plays"].append((
        game_id, play_id, home, away, True, "TRADITIONAL",
        float(np.round(rng.uniform(1.0, 8.0), 2)), False,
        float(np.round(rng.uniform(1.8, 3.6), 2)), int(los),
        str(rng.choice(_COVERAGES)), f"{int(rng.integers(0, 15)):02d}:{int(rng.integers(0, 60)):02d}",
        int(rng.integers(0, 35)), int(rng.integers(0, 35)),
        int(rng.integers(1, 5)), int(rng.integers(1, 16)),
    ))
    rows["player_play"].append(
        (game_id, play_id, off[0], home, False, None, None, None, False, None)
    )
    matchups = rng.permutation(dfn)[:5]
    for i in range(1, 6):
        rows["player_play"].append((
            game_id, play_id, off[i], home, True, str(rng.choice(_ROUTES)),
            int(matchups[i - 1]), None, i == target, bool(rng.integers(0, 2)),
        ))
    for j in range(11):
        rows["player_play"].append((
            game_id, play_id, dfn[j], away, False, None, None,
            str(rng.choice(_ASSIGNMENTS)), False, None,
        ))

    # per-player motion: start point, speed (yd/s) and heading (deg)
    rec_y = 4.0 + 9.0 * np.arange(5) + rng.uniform(-1.5, 1.5, 5)
    rec_dir = rng.uniform(0.0, 360.0, 5)
    rec_s = rng.uniform(5.0, 8.5, 5)
    def_x = los + rng.uniform(3.0, 14.0, 11)
    def_y = 2.5 + 4.6 * np.arange(11) + rng.uniform(-1.0, 1.0, 11)
    def_dir = rng.uniform(0.0, 360.0, 11)
    def_s = rng.uniform(4.0, 7.5, 11)
    qb_s = float(rng.uniform(1.2, 2.4))

    def pos(x0, y0, speed, heading, t):
        rad = math.radians(heading)
        x = min(120.0, max(0.0, x0 + speed * t * math.sin(rad)))
        y = min(53.3, max(0.0, y0 + speed * t * math.cos(rad)))
        return round(x, 2), round(y, 2)

    tgt_end = pos(los + 1.0, rec_y[target - 1], rec_s[target - 1],
                  rec_dir[target - 1], (arrived - snap) / 10.0)
    for f in range(1, n_frames + 1):
        ftype = "BEFORE_SNAP" if f < snap else "SNAP" if f == snap else "AFTER_SNAP"
        t_run = max(0, f - snap) / 10.0
        clock = _clock(f)
        ev = events.get(f)

        def row(pid, name, jersey, club, x, y, s, heading):
            return (game_id, play_id, pid, name, f, ftype, clock, jersey, club,
                    "right", x, y, round(s, 2), 0.6, round(s * 0.1, 3),
                    round((heading + 90.0) % 360.0, 2), round(heading, 2), ev)

        qx, qy = pos(los - 1.0, 26.65, qb_s, 270.0, t_run)
        rows["tracking"].append(row(off[0], "QB", 12, home, qx, qy, qb_s, 270.0))
        for i in range(5):
            x, y = pos(los + 1.0, rec_y[i], rec_s[i], rec_dir[i], t_run)
            rows["tracking"].append(
                row(off[i + 1], f"REC_{i}", 80 + i, home, x, y, rec_s[i], rec_dir[i])
            )
        for j in range(11):
            x, y = pos(def_x[j], def_y[j], def_s[j], def_dir[j], t_run)
            rows["tracking"].append(
                row(dfn[j], f"DEF_{j}", 20 + j, away, x, y, def_s[j], def_dir[j])
            )
        if f < pass_f:
            bx, by, bs = qx, qy, qb_s
        else:
            frac = min(1.0, (f - pass_f) / (arrived - pass_f))
            bx = round(qx + (tgt_end[0] - qx) * frac, 2)
            by = round(qy + (tgt_end[1] - qy) * frac, 2)
            bs = 19.0
        rows["tracking"].append((
            game_id, play_id, None, "football", f, ftype, clock, None,
            "football", "right", bx, by, bs, 0.1, 0.2, 0.0, 90.0, ev,
        ))
