"""Tests for the benchmark harness's pure helpers (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import measure  # noqa: E402
import stream  # noqa: E402


def _write_log(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(["v1", *lines]) + "\n")


def _checkpoint(tmp_path, sources: dict[str, list[tuple[str, int]]],
                offsets: dict[int, int]) -> str:
    ck = tmp_path / "ck"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "offsets").mkdir()
    for name, entries in sources.items():
        _write_log(str(ck / "sources" / "0" / name),
                   [json.dumps({"path": f"file:///w/{f}", "timestamp": 0, "batchId": b})
                    for f, b in entries])
    for batch, log_offset in offsets.items():
        _write_log(str(ck / "offsets" / str(batch)), ['{"batchWatermarkMs":0}',
                                                      json.dumps({"logOffset": log_offset})])
    return str(ck)


def test_file_batches_reads_compacted_log_and_skips_no_data_batches(tmp_path):
    # Source ids 0..10; 9.compact repeats entries 0..9.  Query batch 3 is
    # a no-data batch (same logOffset as batch 2), so source id 3 belongs
    # to query batch 4 and every later id is shifted by one.
    entries = [(f"f{i}.parquet", i) for i in range(10)]
    sources = {str(i): [entries[i]] for i in range(9)}
    sources["9.compact"] = entries
    sources["10"] = [("f10.parquet", 10)]
    offsets = {0: 0, 1: 1, 2: 2, 3: 2}
    offsets.update({b: b - 1 for b in range(4, 12)})
    fb = stream.file_batches(_checkpoint(tmp_path, sources, offsets))
    assert fb["f2.parquet"] == {2}
    assert fb["f3.parquet"] == {4}
    assert fb["f10.parquet"] == {11}
    assert all(len(ids) == 1 for ids in fb.values())


def test_file_batches_flags_a_file_read_twice(tmp_path):
    sources = {"0": [("a.parquet", 0)], "1": [("a.parquet", 1)]}
    fb = stream.file_batches(_checkpoint(tmp_path, sources, {0: 0, 1: 1}))
    assert fb["a.parquet"] == {0, 1}


def test_file_batches_ignores_batches_not_yet_planned(tmp_path):
    sources = {"0": [("a.parquet", 0)], "1": [("b.parquet", 1)]}
    fb = stream.file_batches(_checkpoint(tmp_path, sources, {0: 0}))
    assert fb == {"a.parquet": {0}}


def test_left_behind_counts_files_a_trigger_could_have_taken():
    published = [("a", 0.0, 1.0), ("b", 0.0, 2.0), ("c", 0.0, 3.0)]
    fb = {"a": {0}, "b": {1}, "c": {1}}
    # Batch 0 starts at 2.5 having taken only "a": "b" was left behind.
    assert stream.left_behind(published, fb, {0: 2.5, 1: 3.5}) == [1, 0]


def test_quantile_interpolates():
    assert measure.quantile([3.0, 1.0, 2.0, 4.0], 0.5) == 2.5
    assert measure.quantile([5.0], 0.9) == 5.0
    assert measure.quantile([], 0.5) == 0.0


def test_tracer_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 10.0])
    monkeypatch.setattr(measure.time, "perf_counter", lambda: next(clock))
    t = measure.Tracer(True, "r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    st = t.self_times()
    assert st == {"outer": 8.0, "inner": 2.0}
    assert t.spans[1]["parent"] == 0


def test_disabled_tracer_records_nothing():
    t = measure.Tracer(False, "r")
    with t.span("x"):
        pass
    assert t.spans == []


def test_read_event_log_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 400, "Failed": False},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 150_000_000,
                          "JVM GC Time": 10, "Executor Deserialize Time": 20,
                          "Result Serialization Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Records Read": 7, "Bytes Read": 70}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 10, "Failed": True},
         "Task Metrics": {}},
    ]
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    rolled = measure.read_event_log(measure.find_event_logs(str(tmp_path)))
    q1 = rolled["q1"]
    assert q1["jobs"] == 1 and q1["tasks"] == 1
    assert q1["executor_run_s"] == 0.2 and q1["executor_cpu_s"] == 0.15
    assert q1["scheduler_delay_s"] == 0.08
    assert q1["shuffle_write_bytes"] == 64 and q1["input_records"] == 7
    assert rolled[""]["failed_tasks"] == 1


def test_datagen_is_a_function_of_the_seed():
    a = datagen.generate_tables(5, 0.001)
    b = datagen.generate_tables(5, 0.001)
    c = datagen.generate_tables(6, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_events_are_in_event_time_order_within_the_span():
    import numpy as np

    t = datagen.events_table(np.random.default_rng(0), 500, first_id=1000)
    ts = t.column("ts").to_numpy()
    assert (np.diff(ts.astype("int64")) >= 0).all()
    assert t.column("event_id").to_pylist()[0] == 1000


def test_find_event_logs_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1",
                 ".events_2_local-1.crc"):
        (d / name).write_text("")
    assert [os.path.basename(p) for p in measure.find_event_logs(str(tmp_path))] == [
        "events_2_local-1", "events_10_local-1"]


def test_tail_quantile_keeps_ten_samples_beyond():
    assert measure.tail_q(100) == 0.9
    assert measure.tail_q(160) == 0.9
    assert abs(measure.tail_q(30) - 2 / 3) < 1e-12
    assert measure.tail_q(12) == 0.5
