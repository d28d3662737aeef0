"""Self-test of the benchmark's own logic; needs no JVM.

    python3 -m pytest perfbench -q      # or: python3 perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, measure, run  # noqa: E402


def test_drift_compares_halves():
    assert measure.drift([2.0, 2.0, 1.0, 1.0]) == -0.5
    assert measure.drift([1.0]) == 0.0


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, reason="Success", accs=()):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Accumulables": list(accs)},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000 // 2,
                "JVM GC Time": 1,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 7,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40},
            },
        },
    )


def _stage(kind, sid, group, sub=None, done=None):
    info = {"Stage ID": sid}
    if sub is not None:
        info.update({"Submission Time": sub, "Completion Time": done})
    props = {"spark.jobGroup.id": group} if group else {}
    return _ev(kind, **{"Stage Info": info, "Properties": props})


def synthetic_log() -> list[str]:
    """Op 3 runs two spans; job 2 reuses (skips) stage 1 and runs stage 2;
    one task of stage 2 fails once; stage 3 belongs to no group."""
    plan = {
        "nodeName": "WholeStageCodegen (1)",
        "metrics": [],
        "children": [
            {
                "nodeName": "MapInPandas",
                "metrics": [{"name": "number of output rows", "accumulatorId": 90}],
                "children": [
                    {
                        "nodeName": "InputAdapter",
                        "metrics": [],
                        "children": [
                            {
                                "nodeName": "Scan ExistingRDD",
                                "metrics": [
                                    {"name": "number of output rows", "accumulatorId": 77}
                                ],
                                "children": [],
                            }
                        ],
                    }
                ],
            }
        ],
    }
    py_sent = {"ID": 5, "Name": "data sent to Python workers", "Update": 1000}
    rows_in = {"ID": 77, "Name": "number of output rows", "Update": 250}
    rows_out = {"ID": 90, "Name": "number of output rows", "Update": 3}
    return [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0],
            "Properties": {"spark.jobGroup.id": "3|a"}}),
        _stage("SparkListenerStageSubmitted", 0, "3|a"),
        _task(0, 200),
        _task(0, 300),
        _stage("SparkListenerStageCompleted", 0, "3|a", 1_000_000, 1_002_000),
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1],
            "Properties": {"spark.jobGroup.id": "3|b"}}),
        _stage("SparkListenerStageSubmitted", 1, "3|b"),
        _task(1, 100, accs=[py_sent, rows_in, rows_out]),
        _stage("SparkListenerStageCompleted", 1, "3|b", 1_003_000, 1_004_000),
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [1, 2],
            "Properties": {"spark.jobGroup.id": "3|b"}}),
        _stage("SparkListenerStageSubmitted", 2, "3|b"),
        _task(2, 50, reason="ExceptionFailure"),
        _task(2, 50),
        _stage("SparkListenerStageCompleted", 2, "3|b", 1_003_500, 1_005_000),
        _ev("SparkListenerJobStart", **{"Job ID": 3, "Stage IDs": [3], "Properties": {}}),
        _stage("SparkListenerStageSubmitted", 3, None),
        _task(3, 10),
        _stage("SparkListenerStageCompleted", 3, None, 1_006_000, 1_007_000),
        # the plan arrives after the tasks that updated its counters
        _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            sparkPlanInfo=plan),
    ]


def test_fold_event_log_by_job_group():
    groups = measure.fold_event_log(synthetic_log())
    a, b, other = groups["3|a"], groups["3|b"], groups["-"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 2)
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 3)  # stage 1 not re-counted
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 1)
    assert b["failed_tasks"] == 1 and a["failed_tasks"] == 0
    assert abs(a["run_s"] - 0.5) < 1e-9 and abs(a["cpu_s"] - 0.25) < 1e-9
    assert a["shuffle_write_bytes"] == 200 and a["shuffle_read_bytes"] == 80
    assert a["spill_bytes"] == 14 and abs(a["gc_s"] - 0.002) < 1e-9
    assert b["py_bytes_sent"] == 1000 and a["py_bytes_sent"] == 0
    assert b["py_rows_sent"] == 250  # the Python node's input, not its output
    assert a["intervals"] == [(1000.0, 1002.0)]
    assert b["intervals"] == [(1003.0, 1004.0), (1003.5, 1005.0)]


def test_driver_gap_is_wall_outside_stage_union():
    groups = measure.fold_event_log(synthetic_log())
    intervals = groups["3|a"]["intervals"] + groups["3|b"]["intervals"]
    # op 999.5..1005.5: stages cover 1000-1002 and 1003-1005 (overlapping)
    gap = measure.driver_gap(999.5, 1005.5, intervals)
    assert abs(gap - 2.0) < 1e-9
    # stages reaching outside the op window are clipped to it
    assert abs(measure.driver_gap(1001.0, 1003.5, intervals) - 1.0) < 1e-9
    assert measure.union_length([(0, 4), (1, 2), (3, 6), (8, 9)], 0, 10) == 7
    assert measure.driver_gap(0.0, 1.0, []) == 1.0


def test_spans_set_and_restore_job_groups():
    seen = []
    spans = measure.Spans(set_group=seen.append)
    with spans.span("op", 7):
        with spans.span("x", 7):
            pass
    assert seen == ["7|op", "7|x", "7|op", "-"]
    x, op = spans.records
    assert (x["name"], x["parent"], x["op"]) == ("x", "op", 7)
    assert op["parent"] is None and op["start"] <= x["start"] <= x["end"] <= op["end"]


def test_quantize_rounds_half_away_from_zero():
    x = np.array([1 / 128, -1 / 128, 3 / 128, 0.25, -0.3], dtype=np.float32)
    assert gen.quantize(x).tolist() == [7813, -7813, 23438, 250000, -300000]


def test_lloyd_twin_ties_and_empty_clusters():
    q = np.array([[0], [10], [5], [-3], [-4], [12]], dtype=np.int64)
    # seeds 0 and 10; 5 ties and goes to the lower centroid id
    assert gen.lloyd_assign(q, 2, 1).tolist() == [0, 1, 0, 0, 0, 1]
    assert gen.lloyd_assign(q, 2, 2).tolist() == [0, 1, 0, 0, 0, 1]
    # a seed no vector is nearest to drops out after the first round
    q2 = np.array([[0], [0], [1], [2]], dtype=np.int64)
    assert gen.lloyd_assign(q2, 2, 2).tolist() == [0, 0, 0, 0]


def test_orders_feed_never_repeats_a_version():
    import pyarrow.parquet as pq

    feed = gen.OrdersFeed(seed=3, n_keys=300, change_frac=1 / 15, new_frac=1 / 30)
    seen = set()
    with tempfile.TemporaryDirectory() as tmp:
        for day in range(6):
            path = os.path.join(tmp, f"d{day}.parquet")
            if day == 0:
                feed.bootstrap(path)
            else:
                feed.delta(path)
            t = pq.read_table(path).to_pydict()
            rows = set(zip(t["o_orderkey"], t["o_totalprice"]))
            assert len(rows) == len(t["o_orderkey"]) and not rows & seen
            seen |= rows
    assert feed.loaded == 300 + 5 * 10
    assert feed.changed_versions == 5 * 20
    assert len(seen) == 300 + feed.delta_rows


def test_priority_keepers_follow_components_and_priority():
    ids = [1, 2, 3, 4, 5, 6]
    prio = {1: 3, 2: 0, 3: 1, 4: 0, 5: 2, 6: 2}
    # components {1, 2, 3} (a chain), {5, 6}, and 4 alone
    got = gen.priority_keepers(ids, prio, [(1, 2), (2, 3), (5, 6)])
    assert got == {1: 2, 2: 2, 3: 2, 4: 4, 5: 5, 6: 5}  # 5 vs 6: tie on prio, lower id
    # the order of the pairs does not matter
    assert gen.priority_keepers(ids, prio, [(5, 6), (2, 3), (1, 2)]) == got


def test_documents_are_seeded_and_hold_near_dup_chains():
    a = gen.documents(seed=4, n_docs=300)
    assert a.equals(gen.documents(seed=4, n_docs=300))
    assert not a.equals(gen.documents(seed=5, n_docs=300))
    texts = [t.split() for t in a["text"].to_pylist()]
    assert all(len(t) == 60 for t in texts)
    # a copy differs from some earlier document in at most two words
    near = sum(
        any(sum(x != y for x, y in zip(texts[d], texts[e])) <= 2 for e in range(max(0, d - 40), d))
        for d in range(1, len(texts))
    )
    assert 0.3 * len(texts) < near < 0.5 * len(texts)
    assert set(a["prio"].to_pylist()) == {0, 1, 2, 3}
    assert all(s == f"src{p}" for s, p in zip(a["source"].to_pylist(), a["prio"].to_pylist()))


def test_descendants_finds_grandchildren_and_alive_sees_them_exit():
    shell = subprocess.Popen(["sh", "-c", "sleep 30 & wait"])
    below = [shell.pid]
    try:
        deadline = time.monotonic() + 5
        while len(run.descendants(os.getpid())) < 2 and time.monotonic() < deadline:
            time.sleep(0.01)
        below = run.descendants(os.getpid())
        assert shell.pid in below and len(below) >= 2
        sleeper = next(p for p in below if p != shell.pid)
        assert run.alive(sleeper)
    finally:
        for p in below:
            os.kill(p, 9)
        shell.wait()
    deadline = time.monotonic() + 5
    while run.alive(sleeper) and time.monotonic() < deadline:
        time.sleep(0.01)
    assert not run.alive(sleeper) and not run.alive(shell.pid)


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
    print(f"{len(tests)} passed")
