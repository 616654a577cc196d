"""Tests of the benchmark's own parts (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


def _tables(d: Path) -> dict:
    return {p.name: pq.read_table(p) for p in sorted(d.glob("*.parquet"))}


@pytest.mark.parametrize("writer", ["corpus", "bdb"])
def test_generators_are_deterministic_per_seed(tmp_path, writer):
    def write(seed, name):
        out = tmp_path / name
        if writer == "corpus":
            gen.write_corpus(out, seed, 0.001)
        else:
            gen.write_bdb(out, seed, 3)
        return _tables(out)

    a, again, other = write(7, "a"), write(7, "b"), write(8, "c")
    assert a.keys() == again.keys() == other.keys()
    assert all(a[k].equals(again[k]) for k in a)
    assert not all(a[k].equals(other[k]) for k in a)


def test_bdb_generator_follows_fixture_conventions(tmp_path):
    gen.write_bdb(tmp_path, 3, 3)
    t = pq.read_table(tmp_path / "tracking.parquet").to_pandas()
    assert t.x.between(0, 120).all() and t.y.between(0, 53.3).all()
    per_frame = t.groupby(["gameId", "playId", "frameId"]).size()
    assert (per_frame == 11 + 5 + 1 + 1).all()
    for _, play in t[t.displayName == "football"].groupby(["gameId", "playId"]):
        frame = {e: f for e, f in zip(play.event, play.frameId) if e}
        assert frame["line_set"] < frame["ball_snap"] < frame["pass_forward"] < frame["pass_arrived"]
        assert frame["ball_snap"] - frame["line_set"] > 20  # > 2 s at 10 Hz
        assert (play.frameId > frame["pass_forward"]).sum() >= 7


def test_output_check_fails_on_a_corrupted_row():
    cols = ["node", "kind", "score"]
    rows = [(3, "cc", 0.5), (1, "pr", 0.25), (2, "cc", None)]
    want = check.canonical(cols, rows)
    # row and column order do not matter
    assert check.mismatch(check.canonical(cols[::-1], [r[::-1] for r in rows[::-1]]), want) is None
    corrupted = [rows[0], (1, "pr", 0.25000000000000006), rows[2]]
    assert "row" in check.mismatch(check.canonical(cols, corrupted), want)
    assert "rows" in check.mismatch(check.canonical(cols, rows[:2]), want)


def test_dag_check_flags_duplicate_keys_and_empty_stages():
    ok = {
        name: (("gameId", "nflId", "playId", "frameId"), [(1, 2, 3, 4), (1, 2, 3, 5)])
        for name in check.DAG_KEYS
    }
    ok["press_data"] = (("nflId",), [(1,), (2,)])
    ok["reads_data"] = ok["dropback_timing"] = (("gameId", "playId"), [(1, 1), (1, 2)])
    assert check.dag_problems(ok) == []
    bad = dict(ok, press_data=(("nflId",), [(1,), (1,)]), matchups=(("a",), []))
    problems = check.dag_problems(bad)
    assert any("press_data" in p for p in problems)
    assert any("matchups: empty" in p for p in problems)


def test_self_time_subtracts_the_union_of_child_spans():
    spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "suite.q.construct", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "components.cc", "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "name": "dedup.x", "parent": 1, "start": 3.0, "end": 4.5},
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx({"pass": 6.0, "suite": 1.5, "components": 2.0, "dedup": 1.5})
