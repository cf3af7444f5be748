"""Tests for the benchmark's own helpers (no Spark needed).

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os

import pandas as pd
import pytest

import run
import stats


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(range(1, 21), 50) == 10
    with pytest.raises(ValueError):
        stats.percentile(range(1, 20), 50)
    assert stats.percentile(range(1, 201), 95) == 190
    with pytest.raises(ValueError):
        stats.percentile(range(1, 200), 95)


def test_percentile_counts_failures_as_missing_every_limit():
    xs = [1.0] * 180 + [math.inf] * 20
    assert stats.percentile(xs, 50) == 1.0
    assert stats.percentile(xs, 90) == 1.0
    assert stats.percentile(xs + [math.inf], 95) == math.inf


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _entry(name, log_offset):
    return json.dumps(
        {"path": f"file:///x/src/{name}", "timestamp": 0, "batchId": log_offset}
    )


def test_file_batches_maps_source_offsets_to_query_batches(tmp_path):
    ck = str(tmp_path)
    # batch 2 is a no-data batch: it repeats logOffset 1, so the file the
    # source logged at offset 2 belongs to query batch 3, not batch 2.
    for b, off in enumerate([0, 1, 1, 2]):
        _write(f"{ck}/offsets/{b}", ["v1", "{}", json.dumps({"logOffset": off})])
    _write(f"{ck}/sources/0/0", ["v1", _entry("a", 0), _entry("b", 0)])
    _write(f"{ck}/sources/0/1", ["v1", _entry("c", 1)])
    _write(f"{ck}/sources/0/2", ["v1", _entry("d", 2)])
    _write(f"{ck}/sources/0/.2.crc", ["junk"])
    assert stats.file_batches(ck) == {"a": 0, "b": 0, "c": 1, "d": 3}


def test_checkpoint_readers_accept_a_checkpoint_not_yet_written(tmp_path):
    ck = str(tmp_path)
    assert stats.file_batches(ck) == {}
    assert stats.commit_times(ck) == {}
    assert stats.batch_start_times(ck) == {}


def test_file_batches_reads_compacted_logs_and_skips_unplanned(tmp_path):
    ck = str(tmp_path)
    _write(f"{ck}/offsets/0", ["v1", "{}", json.dumps({"logOffset": 9})])
    _write(
        f"{ck}/sources/0/9.compact",
        ["v1", _entry("a", 8), _entry("b", 9), _entry("late", 10)],
    )
    assert stats.file_batches(ck) == {"a": 0, "b": 0}


def test_freshness_uses_commit_mtime_of_the_reading_batch(tmp_path):
    ck = str(tmp_path)
    for b, t in ((0, 100.0), (1, 107.5)):
        p = f"{ck}/commits/{b}"
        _write(p, ["v1", "{}"])
        os.utime(p, (t, t))
    _write(f"{ck}/commits/.1.crc", ["junk"])
    commits = stats.commit_times(ck)
    assert commits == {0: 100.0, 1: 107.5}
    fresh = stats.freshness(
        {"a": [99_000_000, 99_500_000], "b": [106_000_000]},
        {"a": 0, "b": 1},
        commits,
    )
    assert fresh == pytest.approx([1.0, 0.5, 1.5])
    with pytest.raises(KeyError):
        stats.freshness({"c": [1]}, {"a": 0}, commits)


def test_fold_event_log_assigns_work_to_phases():
    def task(launch_ms, run_ms, cpu_ns, gc_ms, shuffle, spill):
        return {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": launch_ms},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
            },
        }

    lines = [
        json.dumps(e)
        for e in (
            {"Event": "SparkListenerApplicationStart"},
            {"Event": "SparkListenerJobStart", "Submission Time": 1_000},
            {"Event": "SparkListenerJobStart", "Submission Time": 5_000},
            {"Event": "SparkListenerJobStart", "Submission Time": 9_000},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Submission Time": 1_100}},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {}},
            task(1_200, 500, 250_000_000, 10, 64, 0),
            task(1_300, 1_500, 1_000_000_000, 0, 0, 128),
            task(5_100, 100, 50_000_000, 0, 0, 0),
            task(9_100, 100, 50_000_000, 0, 0, 0),
        )
    ] + [""]
    got = stats.fold_event_log(lines, {"a": (1.0, 2.0), "b": (5.0, 6.0)})
    assert got["a"] == {
        "jobs": 1,
        "stages": 1,
        "tasks": 2,
        "task_run_s": 2.0,
        "task_cpu_s": 1.25,
        "gc_s": 0.01,
        "shuffle_write_bytes": 64,
        "spill_bytes": 128,
    }
    assert got["b"]["jobs"] == 1 and got["b"]["tasks"] == 1


def test_expected_latest_takes_the_newest_window_per_user():
    m = 60_000_000  # one minute in microseconds
    ev = pd.DataFrame(
        {
            # user 1: newest event at minute 10.5 → window [10 min, 15 min)
            # holds the events at minutes 10.5 and 10.2 only; the one at 7
            # falls in older windows.
            "user_id": [1, 1, 1, 2],
            "ts_us": [7 * m, int(10.5 * m), int(10.2 * m), 3 * m],
            "cents": [100, 250, 5, 7],
        }
    )
    exp = run.expected_latest(ev)
    assert exp.loc[1].tolist() == [600, 2, 255, 250, 5]
    assert exp.loc[2].tolist() == [180, 1, 7, 7, 7]

    view = pd.DataFrame(
        {
            "user_id": [1, 2],
            "window_start_s": [600, 180],
            "event_count": [2, 1],
            "value_sum": [2.55, 0.07],
            "value_max": [2.5, 0.07],
            "value_min": [0.05, 0.07],
        }
    )
    assert run.latest_mismatches(view, exp) == 0
    assert run.latest_mismatches(view.assign(value_sum=[2.55, 0.08]), exp) == 1
    assert run.latest_mismatches(pd.concat([view, view.iloc[:1]]), exp) == 1
    assert run.latest_mismatches(view.iloc[:1], exp) == 1


def test_benchmark_json_matches_what_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    # a traced copy of an end-to-end metric improves the same way it does
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    for m in spec["per_layer"]:
        if m["name"].startswith("traced."):
            assert m["better"] == better[m["name"][len("traced."):]], m["name"]


def test_events_timestamps_match_the_corpus_type(tmp_path):
    """``events.ts`` is TIMESTAMP(MICROS) without UTC adjustment, as in the
    corpus's events.parquet, so ``load_table`` takes the same path on both."""
    import pyarrow.parquet as pq

    import tables

    tables.write_tables(str(tmp_path), 0.001, 1)
    col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert col.name == "ts"
    t = json.loads(col.logical_type.to_json())
    assert (t["Type"], t["isAdjustedToUTC"], t["timeUnit"]) == (
        "Timestamp",
        False,
        "microseconds",
    )


def test_inputs_depend_only_on_the_seed(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    import gen
    import tables

    def files(seed, sub):
        out = tmp_path / sub
        tables.write_tables(str(out), 0.001, seed)
        keys = gen.KeySampler("zipf", 1_000, seed)
        ev = gen.make_events(np.random.default_rng([seed, 1]), keys, 0, 500, 0, 10**7)
        return [pq.read_table(out / f"{t}.parquet") for t in ("events", "documents", "embeddings")] + [ev]

    a, b, c = files(1, "a"), files(1, "b"), files(2, "c")
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))
    users = a[3].column("user_id").to_numpy()
    assert users.min() >= 0 and users.max() < 1_000
