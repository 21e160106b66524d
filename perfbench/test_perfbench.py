"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, datagen, trace  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(base: str, seed: int) -> str:
    out = os.path.join(base, f"seed{seed}")
    datagen.write_landing_zone(os.path.join(out, "landing"), seed, seasons=1, shards=4)
    datagen.write_stream_backlog(os.path.join(out, "backlog"), seed, 2, 50, 2, 20)
    return _digest(out)


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a == b
    assert a != c


def test_landing_zone_has_edge_cases_and_expected_answer():
    matches = datagen.landing_zone_records(seed=3, seasons=1)
    names = {m["general"][side]["name"] for m in matches for side in ("homeTeam", "awayTeam")}
    assert {"Tottenham", "Tottenham Hotspur"} <= names
    shots = [s for m in matches for s in m["content"]["shotmap"]["shots"]]
    assert any(s["blockedX"] is None for s in shots) and any(s["isBlocked"] for s in shots)
    assert all((s["blockedX"] is None) == (not s["isBlocked"]) for s in shots)
    exp = datagen.expected_shot_answer(matches)
    assert exp["fact_rows"] == exp["looker_rows"] == len(shots)
    board = exp["leaderboard"]
    assert len(board) == 10
    assert [r[1] for r in board] == sorted((r[1] for r in board), reverse=True)


def test_checker_flags_an_injected_wrong_row():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (3, "z")]
    want = checks.canon_rows(rows, cols)
    assert checks.compare(checks.canon_rows(list(reversed(rows)), cols), want, "q") is None
    wrong = [(1, "x"), (2, "y"), (4, "z")]
    assert "differs" in checks.compare(checks.canon_rows(wrong, cols), want, "q")
    assert "rows" in checks.compare(checks.canon_rows(rows[:2], cols), want, "q")
    assert "columns" in checks.compare(checks.canon_rows(rows, ["b", "c"]), want, "q")


def test_tail_percentile_keeps_ten_samples_beyond():
    assert trace.tail_percentile(19) is None
    assert trace.tail_percentile(20) == 50
    assert trace.tail_percentile(39) == 50
    assert trace.tail_percentile(40) == 75
    assert trace.tail_percentile(100) == 90
    assert trace.tail_percentile(199) == 90
    assert trace.tail_percentile(200) == 95
    assert trace.tail_percentile(1000) == 99
    s = trace.summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5 and s["p75"] == 30.0


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1: count once
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},  # grandchild: not 0's
        {"id": 4, "parent": 0, "start": 8.0, "end": 12.0},  # clipped to parent
    ]
    out = {s["id"]: s for s in trace.with_self_time(spans)}
    assert out[0]["self_s"] == 10.0 - 5.0 - 2.0
    assert out[2]["self_s"] == 3.0 - 1.0
    assert out[1]["self_s"] == 3.0


def test_tracer_records_parent_and_op():
    t = trace.Tracer(enabled=True)
    t.op_id = "p1:q"
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in t.spans] == [
        ("outer", None, "p1:q"), ("inner", 0, "p1:q"),
    ]
    off = trace.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_raising_op_is_counted_not_dropped():
    from perfbench.run import Bench

    bench = Bench.__new__(Bench)
    bench.tracer = trace.Tracer(enabled=False)
    bench.results, bench.failures, bench.attempted, bench.op_log = [], [], 0, []
    bench.counters = SimpleNamespace(next_job_id=lambda: 0)

    def ok(k, layer):
        return "fine"

    def boom(k, layer):
        raise RuntimeError("injected")

    bench._ops = [("ok", ok), ("boom", boom)]
    wall, walls, _layer = bench.run_pass(1, traced=False)
    assert bench.attempted == 2
    assert len(bench.failures) == 1 and "boom" in bench.failures[0]
    assert len(walls) == 1 and wall >= walls[0]
    assert bench.results == [(1, "ok", "fine")]
