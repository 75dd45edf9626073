"""Fast checks of the benchmark's metric arithmetic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import time

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import lake  # noqa: E402
import probes  # noqa: E402


@pytest.mark.parametrize("text, want", [
    ("100,000", 100000.0),
    ("0", 0.0),
    ("0 ms", 0.0),
    ("738 ms", 0.738),
    ("6.6 s", 6.6),
    ("1.5 m", 90.0),
    ("2.00 h", 7200.0),
    ("0.0 B", 0.0),
    ("1099.0 B", 1099.0),
    ("807.9 KiB", 807.9 * 1024),
    ("1.2 MiB", 1.2 * 1024 ** 2),
    ("total (min, med, max (stageId: taskId))\n"
     "5.3 s (1.3 s, 1.3 s, 1.4 s (stage 2.0: task 4))", 5.3),
    ("total (min, med, max (stageId: taskId))\n"
     "1565.1 KiB (391.3 KiB, 391.3 KiB, 391.3 KiB (stage 2.0: task 7))",
     1565.1 * 1024),
    ("", 0.0),
    (None, 0.0),
    ("n/a", 0.0),
])
def test_parse_sql_metric(text, want):
    assert probes.parse_sql_metric(text) == pytest.approx(want)


def test_udf_totals_only_counts_python_nodes():
    nodes = [
        ("MapInPandas", {
            "time to run Python workers": "total (min, med, max)\n2.0 s (1 s)",
            "time to start Python workers": "500 ms",
            "time to initialize Python workers": "250 ms",
            "data sent to Python workers": "1.0 KiB",
            "data returned from Python workers": "2.0 KiB",
            "number of output rows": "1,000"}),
        ("HashAggregate", {"number of output rows": "40",
                           "time in aggregation build": "2.5 s"}),
    ]
    got = probes.udf_totals(nodes)
    assert got == pytest.approx({
        "udf.run_s": 2.0, "udf.start_s": 0.5, "udf.init_s": 0.25,
        "udf.bytes_sent": 1024.0, "udf.bytes_received": 2048.0,
        "udf.rows_out": 1000.0})
    assert probes.udf_totals([nodes[1]]) == pytest.approx(
        {k: 0.0 for k in got})


def _fake_span(t0, t1, children=()):
    return {"t0": t0, "t1": t1, "children": list(children)}


def test_self_time_subtracts_direct_children_only():
    grandchild = _fake_span(2.0, 3.0)
    child = _fake_span(1.0, 4.0, [grandchild])
    root = _fake_span(0.0, 10.0, [child, _fake_span(5.0, 6.0)])
    assert probes.Tracer.self_time(root) == pytest.approx(10 - 3 - 1)
    assert probes.Tracer.self_time(child) == pytest.approx(3 - 1)
    assert probes.Tracer.self_time(grandchild) == pytest.approx(1)


def test_layer_times_sum_to_outer_span():
    t = probes.Tracer()
    with t.span("op", "q"):
        with t.span("build", "q"):
            time.sleep(0.01)
        with t.span("exec", "q"):
            with t.span("inner", "q"):
                time.sleep(0.01)
    layers = t.layer_times()
    outer = probes.Tracer.duration(t.spans[0])
    assert set(layers) == {"op", "build", "exec", "inner"}
    assert sum(layers.values()) == pytest.approx(outer)
    assert all(v >= 0 for v in layers.values())
    rows = t.export()
    assert [r["parent"] for r in rows] == [None, 0, 0, 2]
    assert rows[0]["start"] == 0.0
    assert all(r["start"] <= r["end"] for r in rows)


def test_streaming_totals():
    started = {"r1": "2026-01-01T00:00:00.000Z"}
    progress = [
        {"run": "r1", "ts": "2026-01-01T00:00:01.000Z",
         "dur": {"triggerExecution": 500, "queryPlanning": 100,
                 "addBatch": 300, "latestOffset": 20, "walCommit": 10,
                 "commitOffsets": 30}, "state_commit_ms": 40},
        {"run": "r1", "ts": "2026-01-01T00:00:02.000Z",
         "dur": {"triggerExecution": 250, "addBatch": 200},
         "state_commit_ms": 0},
    ]
    got = probes.streaming_totals(started, progress)
    assert got["streaming.batches"] == 2
    assert got["streaming.planning_s"] == pytest.approx(0.1)
    assert got["streaming.add_batch_s"] == pytest.approx(0.5)
    assert got["streaming.offsets_s"] == pytest.approx(0.03)
    assert got["streaming.commit_s"] == pytest.approx(0.03)
    assert got["streaming.state_commit_s"] == pytest.approx(0.04)
    # wall 0 s -> 2.25 s, of which 0.75 s inside triggers
    assert got["streaming.start_s"] == pytest.approx(1.5)


def test_lake_model_and_change_replay():
    seq = lake.batches(3)
    assert [op for op, _ in seq] == ["B"] + list(lake.SCHEDULE)
    states = lake.model_states(seq)
    final = states[-1]
    deleted = set(seq[-1][1]["id"])
    assert not deleted & set(final["id"])
    assert final["id"].is_unique
    # a multiset feed: base inserts, then one update as pre/post images
    base = states[0]
    upd = base.iloc[:1].assign(v=base["v"].iloc[0] + 1.0)
    feed = pd.concat([
        base.assign(_change_type="insert"),
        base.iloc[:1].assign(_change_type="update_preimage"),
        upd.assign(_change_type="update_postimage")])
    got = lake._replay_changes(feed)
    want = pd.concat([upd, base.iloc[1:]])
    lake._assert_rows("feed", got, want)
