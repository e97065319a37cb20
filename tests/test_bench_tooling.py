"""Spark-free tests of the bench tooling: bench.py's rerun rule and
tools/bench_compare.py's report on a new (``layers``) and an old
(``breaches``, settle-tagged canary) bench record."""

from __future__ import annotations

import json

import pytest

import bench
from tools import bench_compare


def _planted(*runs):
    """A rerun() that replays ``runs`` as (seconds, layers) pairs and
    fails the test if asked for more."""
    it = iter([(t, {"run": i}) for i, t in enumerate(runs, 1)])
    return lambda: next(it)


@pytest.mark.parametrize(
    "first, frozen, reruns, kept, seen",
    [
        # under both triggers: never re-run
        (2.9, None, (), 2.9, [2.9]),
        (1.9, 1.0, (), 1.9, [1.9]),
        # >= 3 s: the first rerun under both triggers stops the reruns
        (4.0, None, (2.5,), 2.5, [4.0, 2.5]),
        (3.0, None, (2.5,), 2.5, [3.0, 2.5]),
        # > 2x frozen on a sub-3 s query: re-run, keep the minimum
        (2.5, 1.0, (1.1,), 1.1, [2.5, 1.1]),
        # still over a trigger after one rerun: one more, then stop
        (5.0, 1.0, (4.0, 6.0), 4.0, [5.0, 4.0, 6.0]),
        (2.5, 1.0, (2.2, 0.9), 0.9, [2.5, 2.2, 0.9]),
        # a genuinely expensive query reproduces its time: min of three
        (9.0, 8.8, (8.7, 9.1), 8.7, [9.0, 8.7, 9.1]),
        # a failed first run is not re-run
        (-1.0, None, (), -1.0, [-1.0]),
        (-1.0, 0.2, (), -1.0, [-1.0]),
        # a failed rerun ends the reruns and is never kept
        (4.0, None, (-1.0,), 4.0, [4.0]),
        (4.0, None, (3.5, -1.0), 3.5, [4.0, 3.5]),
        # equal minima: the earliest run's layers are kept
        (4.0, None, (4.0, 4.0), 4.0, [4.0, 4.0, 4.0]),
    ],
)
def test_steady_run(first, frozen, reruns, kept, seen):
    pair, runs = bench.steady_run((first, {"run": 0}), frozen, _planted(*reruns))
    assert runs == seen
    assert pair == (kept, {"run": seen.index(kept)})


def _compare(tmp_path, capsys, record):
    path = tmp_path / "bench_full.json"
    path.write_text(json.dumps(record))
    with pytest.raises(SystemExit) as exit_info:
        bench_compare.main(["--bench", str(path)])
    return exit_info.value.code, capsys.readouterr().out.splitlines()


def _flagged(lines):
    return {tuple(line.split(":")[0].split()) for line in lines if ":" in line}


@pytest.fixture(scope="module")
def frozen():
    f = bench_compare.frozen_medians()
    return {n: f[n] for n in ("j108_winnow_clusters", "b1_project", "a14_zorder")}


def test_compare_new_record(tmp_path, capsys, frozen):
    slow = round(3 * frozen["j108_winnow_clusters"], 2)
    layers = {"spark.jobs": 51, "materialize_calls": 9, "build_s": 2.0, "final_s": 0.4}
    record = {
        "queries": {
            "j108_winnow_clusters": slow,
            "b1_project": frozen["b1_project"],
            "a14_zorder": -1.0,
            "zz1_unregistered": 0.5,
        },
        "reruns": {"b1_project": [1.5, frozen["b1_project"]], "j108_winnow_clusters": [slow, slow]},
        "layers": {"j108_winnow_clusters": layers, "b1_project": {"spark.jobs": 1}},
        "canary": [{"pos": -1, "t": 0.2}, {"pos": 24, "t": 0.9}],
        "host_burn": {"start": 0.09, "end": 0.1},
    }
    code, lines = _compare(tmp_path, capsys, record)
    assert code == 1
    assert _flagged(lines) == {
        ("DIVERGENT", "b1_project"),
        ("FAIL", "a14_zorder"),
        ("SLOW", "j108_winnow_clusters"),
        ("NOFREEZE", "zz1_unregistered"),
    }
    by_kind = {line.split()[0]: line for line in lines}
    assert "[layers spark.jobs=51 materialize_calls=9 build_s=2.0 final_s=0.4]" in by_kind["SLOW"]
    assert "[layers spark.jobs=1]" in by_kind["DIVERGENT"]
    assert lines[-1] == "1 within 2.0x of freeze, 1 over, 1 failed, 1 unfrozen"
    assert not any("canary" in line for line in lines)


def test_compare_old_record(tmp_path, capsys, frozen):
    """A record from before the ledger: its breach verdicts and
    settle-tagged canary samples are ignored, not adjudicated."""
    record = {
        "queries": {"j108_winnow_clusters": frozen["j108_winnow_clusters"], "b1_project": 0.3},
        "reruns": {"j108_winnow_clusters": [30.0, 11.0, 4.0, frozen["j108_winnow_clusters"]]},
        "canary": [{"pos": -1, "t": 1.2}, {"pos": 1, "t": 0.9, "settle": True}],
        "breaches": [{
            "name": "b1_project", "t": 9.0, "frozen": 0.19, "ratio": 47.4, "canary_t": 0.9,
            "canary_vs_ref": 3.6, "canary_near_vs_ref": 4.8, "verdict": "host noise suspected",
        }],
        "host_burn": {"start": 0.14, "end": 0.09},
    }
    code, lines = _compare(tmp_path, capsys, record)
    assert code == 0
    assert _flagged(lines) == {("DIVERGENT", "j108_winnow_clusters")}
    assert "[layers" not in lines[0] and "canary" not in lines[0]
    assert lines[-1] == "2 within 2.0x of freeze, 0 over, 0 failed, 0 unfrozen"
    assert not any("BREACH" in line or "canary" in line for line in lines)


def test_compare_failure_alone_fails(tmp_path, capsys, frozen):
    code, lines = _compare(tmp_path, capsys, {"queries": {"a14_zorder": -1.0}})
    assert code == 1
    assert _flagged(lines) == {("FAIL", "a14_zorder")}
