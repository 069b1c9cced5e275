"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import math
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import measure  # noqa: E402
import oracle  # noqa: E402


# ---- tail percentile: highest sample with >= 10 samples beyond it ---------

def test_tail_needs_eleven_samples():
    assert measure.tail(list(range(10))) == (None, None, 10)
    v, pct, n = measure.tail(list(range(11)))
    assert (v, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_above():
    v, pct, n = measure.tail([float(x) for x in range(1, 101)])
    assert v == 90.0 and pct == 90.0 and n == 100
    assert sum(x > v for x in range(1, 101)) == 10


def test_tail_steps_below_ties():
    # the ten largest include a tie at 5: only samples below 5 have ten
    # strictly larger samples beyond them
    s = [1, 2, 3, 4] + [5] * 3 + [6] * 8
    v, _, _ = measure.tail(s)
    assert v == 4
    assert sum(x > v for x in s) >= 10


# ---- spans and self time --------------------------------------------------

def _span(i, parent, a, b, name="s"):
    return measure.Span(i, name, parent, a, b)


def test_self_time_subtracts_child_coverage():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 2.0, 5.0), _span(3, 0, 8.0, 12.0),
             _span(4, 1, 1.5, 2.5)]
    st = measure.self_times(spans)
    # children cover [1, 5] and [8, 10] of the root (the third is clipped)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_times_partition_a_tree():
    spans = [_span(0, None, 0.0, 6.0), _span(1, 0, 1.0, 2.0),
             _span(2, 0, 3.0, 5.0), _span(3, 2, 3.5, 4.0)]
    assert sum(measure.self_times(spans).values()) == pytest.approx(6.0)


def test_tracer_nests_spans():
    tr = measure.Tracer()
    with tr.span("op", i=3):
        with tr.span("child"):
            pass
    op, child = tr.spans
    assert child.parent == op.id and op.parent is None
    assert op.attrs == {"i": 3}
    assert op.start <= child.start <= child.end <= op.end


def test_union_length_merges_overlaps():
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union_length([]) == 0


# ---- event-log fold -------------------------------------------------------

def _events():
    acc = [{"Name": "data sent to Python workers", "Value": "1000"},
           {"Name": "data returned from Python workers", "Value": "400"},
           {"Name": "internal.metrics.executorRunTime", "Value": 99}]
    task = {"Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 100, "Memory Bytes Spilled": 7,
            "Disk Bytes Spilled": 3,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Shuffle Read Metrics": {"Remote Bytes Read": 20,
                                     "Local Bytes Read": 5}}
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "pb:op:0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": acc}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 4000, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Accumulables": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 4100},
    ]
    return [json.dumps(e) + "\n" for e in ev]


def test_fold_charges_tasks_to_the_job_description():
    f = measure.fold_event_log(_events())
    op = f["pb:op:0"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 1, 2)
    assert op["executor_run_s"] == pytest.approx(3.0)
    assert op["executor_cpu_s"] == pytest.approx(2.0)
    assert op["gc_s"] == pytest.approx(0.2)
    assert op["python_bytes_sent"] == 1000
    assert op["python_bytes_returned"] == 400
    assert op["shuffle_write_bytes"] == 100
    assert op["shuffle_read_bytes"] == 50
    assert op["spill_bytes"] == 20
    assert op["intervals"] == [(1.0, 3.5)]
    other = f[""]
    assert (other["jobs"], other["tasks"]) == (1, 1)
    assert other["intervals"] == [(4.0, 4.1)]


def test_read_event_log_finds_rolling_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("".join(_events()))
    (d / "appstatus_app").write_text("")
    assert len(measure.read_event_log(str(tmp_path))) == len(_events())


# ---- brute-force even-odd oracle -----------------------------------------

SQUARE = ([0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0])
# outer square with a square hole as a second ring
HOLED = (np.array([0, 4, 4, 0, 1, 3, 3, 1], float),
         np.array([0, 0, 4, 4, 1, 1, 3, 3], float),
         np.array([0, 4, 8]))


def test_even_odd_square():
    xs, ys = np.array(SQUARE[0]), np.array(SQUARE[1])
    got = oracle.even_odd([2.0, 5.0, -1.0, 3.9], [2.0, 2.0, 2.0, 0.1],
                          xs, ys, np.array([0, 4]))
    assert got.tolist() == [True, False, False, True]


def test_even_odd_hole_is_outside():
    got = oracle.even_odd([0.5, 2.0, 3.5], [0.5, 2.0, 2.0], *HOLED)
    assert got.tolist() == [True, False, True]


def test_even_odd_closed_ring_same_as_open():
    xs = np.array(SQUARE[0] + [0.0])
    ys = np.array(SQUARE[1] + [0.0])
    rng = np.random.default_rng(0)
    px, py = rng.uniform(-1, 5, 500), rng.uniform(-1, 5, 500)
    closed = oracle.even_odd(px, py, xs, ys, np.array([0, 5]))
    want = (px > 0) & (px < 4) & (py > 0) & (py < 4)
    assert np.array_equal(closed, want)


def _rings():
    # two unit squares side by side plus one overlapping the first:
    # keep-first means region "a" wins the overlap
    sq = lambda x0, y0: (np.array([x0, x0 + 1, x0 + 1, x0], float),
                         np.array([y0, y0, y0 + 1, y0 + 1], float))
    parts = [sq(0, 0), sq(2, 0), sq(0.5, 0)]
    return oracle.Rings(
        ids=np.array(["a", "b", "c"], dtype=object),
        xs=[p[0] for p in parts], ys=[p[1] for p in parts],
        offs=[np.array([0, 4])] * 3,
        bbox=np.array([[p[0].min(), p[1].min(), p[0].max(), p[1].max()]
                       for p in parts]))


def test_assign_keeps_first_containing_region():
    got = oracle.assign([0.75, 1.25, 2.5, 5.0], [0.5, 0.5, 0.5, 0.5],
                        _rings())
    assert got.tolist() == ["a", "c", "b", None]


def test_boundary_distance_at_equator_is_planar():
    xs, ys = np.array(SQUARE[0]) * 1e-3, np.array(SQUARE[1]) * 1e-3
    d = oracle.boundary_distance_m([0.006], [0.002], xs, ys, np.array([0, 4]))
    assert d[0] == pytest.approx(0.002 * oracle.METERS_PER_DEG, rel=1e-6)


def test_check_assignments_counts_mismatches():
    r = _rings()
    px, py = np.array([0.25, 2.5, 1.75]), np.array([0.5, 0.5, 0.5])
    # 1.75 is outside every square, 0.25 deg from "c" and "b"
    assert oracle.check_assignments(px, py, ["a", "b", None], r) == 0
    assert oracle.check_assignments(px, py, ["b", "b", None], r) == 1
    assert oracle.check_assignments(px, py, ["a", "b", "c"], r) == 1
    bound = 0.3 * oracle.METERS_PER_DEG
    # within the bound either equidistant neighbour is accepted
    assert oracle.check_assignments(px, py, ["a", "b", "c"], r, bound) == 0
    assert oracle.check_assignments(px, py, ["a", "b", "b"], r, bound) == 0
    assert oracle.check_assignments(px, py, ["a", "b", "a"], r, bound) == 1
    assert oracle.check_assignments(px, py, ["a", "b", None], r, bound) == 1
    assert oracle.check_assignments(px, py, ["a", "b", None], r,
                                    0.1 * oracle.METERS_PER_DEG) == 0


# ---- the contract file and the runner agree -------------------------------

def test_benchmark_json_matches_runner():
    import run

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert math.isclose(max(m["bound"] for m in spec["end_to_end"]),
                        next(m["bound"] for m in spec["end_to_end"]
                             if m["name"] == "setup_s"))
