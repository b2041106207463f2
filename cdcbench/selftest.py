"""Self-tests of the benchmark's own accounting; no Spark session needed.

    python3 cdcbench/selftest.py          # or: python3 -m pytest cdcbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.measure import (Tally, backlog_max,  # noqa: E402
                              source_log_batches, tail)
from cdcbench.trace import (fold_event_log, layer_metrics,  # noqa: E402
                            read_event_log)


def test_tail_needs_ten_samples_beyond() -> None:
    t = tail([float(i) for i in range(1, 101)])
    assert (t["value"], t["percentile"], t["beyond"]) == (90.0, 90.0, 10)
    assert t["rule_met"]
    t = tail([float(i) for i in range(1, 21)])
    assert (t["value"], t["percentile"], t["beyond"]) == (10.0, 50.0, 10)
    t = tail([5.0, 1.0, 3.0] + [2.0] * 54)   # n=57: rank 47 of the sorted list
    assert t["percentile"] == round(100 * 47 / 57, 2) and t["beyond"] == 10


def test_tail_with_too_few_samples_reports_the_max() -> None:
    t = tail([1.0, 4.0, 2.0])
    assert t["value"] == 4.0 and not t["rule_met"] and t["beyond"] == 0
    t = tail([float(i) for i in range(19)])
    assert t["value"] == 18.0 and not t["rule_met"]
    assert tail([])["n"] == 0


def _log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///w/{name}",
                                "timestamp": 1, "batchId": batch}) + "\n")


def test_source_log_maps_files_to_batches() -> None:
    with tempfile.TemporaryDirectory() as ckpt:
        log = os.path.join(ckpt, "sources", "0")
        os.makedirs(log)
        _log(os.path.join(log, "0"), [("binlog.000001", 0)])
        _log(os.path.join(log, "1"), [("binlog.000002", 1),
                                      ("binlog.000003", 1)])
        # a compaction repeats earlier batches' entries
        _log(os.path.join(log, "2.compact"), [("binlog.000001", 0),
                                              ("binlog.000002", 1),
                                              ("binlog.000003", 1),
                                              ("binlog.000004", 2)])
        # an in-flight write is not a log file
        _log(os.path.join(log, ".3.tmp"), [("binlog.000005", 3)])
        got = source_log_batches(ckpt)
        assert got == {"binlog.000001": [0], "binlog.000002": [1],
                       "binlog.000003": [1], "binlog.000004": [2]}
        # a file read by two batches is visible as such
        _log(os.path.join(log, "3"), [("binlog.000002", 3)])
        assert source_log_batches(ckpt)["binlog.000002"] == [1, 3]
    assert source_log_batches("/nonexistent") == {}


def test_error_rate_counts_failures_against_attempts() -> None:
    t = Tally()
    assert t.error_rate == 1.0          # nothing attempted is not a pass
    assert t.record("apply", True)
    assert not t.record("published file", False, "binlog.000002 in []")
    t.record("batch", True)
    t.record("batch", True)
    assert (t.attempted, t.failed, t.error_rate) == (4, 1, 0.25)
    assert t.failures == ["published file: binlog.000002 in []"]


def test_backlog_counts_published_not_yet_visible() -> None:
    assert backlog_max([0, 1, 2, 3], [2.5, 2.5, 2.5, 5]) == 3
    # a commit at the instant of a publish lands first
    assert backlog_max([0, 1], [1, 2]) == 1


def _events(window: tuple[float, float]) -> list[dict]:
    a, _b = window

    def job(jid, group, t, stages):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": int(t * 1000), "Stage IDs": stages,
                "Properties": props}

    def task(stage, cpu_ns, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor CPU Time": cpu_ns,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill,
                                 "Disk Bytes Spilled": 0}}
    return [
        job(0, None, a - 5, [0]),                       # warm-up: ignored
        job(1, "cdcbench.merge", a + 1, [1, 2]),
        job(2, None, a + 2, [3]),                       # in window: other
        job(3, "cdcbench.probe.decode", a + 50, [4]),   # probe
        task(0, 9e9), task(1, 1e9, shuffle=100), task(2, 2e9, spill=7),
        task(3, 5e8), task(4, 3e9), task(4, 1e9),
    ]


def test_event_log_folds_by_job_group_and_window() -> None:
    win = (1000.0, 1010.0)
    out = fold_event_log(_events(win), [win])
    assert out["window_jobs"] == 2
    m = out["window"]["merge"]
    assert (m["tasks"], m["executor_cpu_s"], m["shuffle_write_bytes"],
            m["spill_bytes"]) == (2, 3.0, 100, 7)
    assert out["window"]["other"]["executor_cpu_s"] == 0.5
    assert out["probe"]["decode"]["tasks"] == 2
    assert out["probe"]["decode"]["executor_cpu_s"] == 4.0


def test_rolling_event_log_parts_read_in_order() -> None:
    with tempfile.TemporaryDirectory() as d:
        app = os.path.join(d, "eventlog_v2_local-1")
        os.makedirs(app)
        for i, ev in ((2, "B"), (10, "C"), (1, "A")):
            with open(os.path.join(app, f"events_{i}_local-1"), "w") as f:
                f.write(json.dumps({"Event": ev}) + "\n")
        assert [e["Event"] for e in read_event_log(d)] == ["A", "B", "C"]


def test_driver_gap_is_window_minus_top_level_spans() -> None:
    spans = [
        {"name": "merge", "start": 101.0, "end": 104.0, "top": True},
        {"name": "scan_extra", "start": 104.5, "end": 105.5, "top": True},
        # a pool-thread child of a top span does not count twice
        {"name": "merge", "start": 101.5, "end": 103.0, "top": False},
        # outside every traced window
        {"name": "merge", "start": 200.0, "end": 209.0, "top": True},
    ]
    folded = fold_event_log([], [])
    m = layer_metrics(session={}, spans=spans,
                      windows=[(100.0, 110.0, True), (150.0, 160.0, False)],
                      batches_per_window=1, probes={}, kernel=False,
                      generic=False, changes_per_batch=0.0, folded=folded,
                      stream={})
    assert m["driver.gap_s"] == 10.0 - 3.0 - 1.0
    assert m["merge.wall_s"] == 3.0 + 1.5
    assert m["trace.overhead_s"] == 0.0


def test_benchmark_json_names_what_run_prints() -> None:
    from cdcbench.run import END_TO_END, GATED
    from cdcbench.trace import unit_of
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        [(k, END_TO_END[k]) for k in GATED]
    m = layer_metrics(session=dict.fromkeys(
        ("session.start_s", "session.ship_s", "warmup.first_apply_s"), 0),
        spans=[], windows=[], batches_per_window=1, probes={},
        kernel=True, generic=True, changes_per_batch=1.0,
        folded=fold_event_log([], []), stream={})
    assert [(p["name"], p["unit"]) for p in bench["per_layer"]] == \
        [(k, unit_of(k)) for k in m]


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items())
             if n.startswith("test_") and callable(f)]
    for name, fn in tests:
        fn()
        print(f"ok {name}")
    print(f"{len(tests)} passed")
