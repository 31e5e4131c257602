"""The benchmark's own aggregation rules, on synthetic inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import statistics

import pytest

import metrics as M
import run
from harness import expected_bigrams, expected_survivors, family_sample, strata_medians

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert M.percentile(xs, 50) == 3.0
    assert M.percentile(xs, 0) == 1.0 and M.percentile(xs, 100) == 5.0
    assert M.percentile(xs, 90) == pytest.approx(4.6)
    assert M.percentile([7.0], 90) == 7.0
    assert M.percentile(xs, 50) == statistics.median(xs)
    with pytest.raises(ValueError):
        M.percentile([], 50)


def test_latency_summary_states_its_sample_count():
    xs = [float(i) for i in range(1, 101)]
    s = M.latency_summary(xs)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["p90"] == pytest.approx(90.1)
    assert s["n_beyond_p90"] == 10


def test_failed_frac_counts_errors_and_wrong_results():
    recs = [{"ok": True}, {"ok": False}, {"error": "boom"}, {"ok": True, "error": "late"}]
    assert M.failed_frac(recs) == (4, 3, 0.75)
    assert M.failed_frac([]) == (0, 0, 0.0)
    assert M.failed_frac([{"ok": True}]) == (1, 0, 0.0)


def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 4.0),  # overlaps child 1
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped
        _span(4, 1, 1.0, 2.0),  # grandchild: not a direct child
    ]
    assert M.self_time(spans[0], spans) == pytest.approx(10.0 - 3.0 - 2.0)
    assert M.self_time(spans[1], spans) == pytest.approx(1.0)
    assert M.coverage_gap(spans[0], spans) == pytest.approx(0.5)
    assert M.self_time(spans[4], spans) == pytest.approx(1.0)


def _events():
    def task(stage, run_ms, cpu_ns, gc_ms, sw, lr, rr, spill):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Local Bytes Read": lr, "Remote Bytes Read": rr},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            },
        }

    evs = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "x1.collect"}},
        task(0, 100, 50_000_000, 10, 1000, 0, 0, 0),
        task(0, 200, 150_000_000, 0, 500, 0, 0, 64),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        task(1, 300, 100_000_000, 5, 0, 1200, 300, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        task(2, 10, 1_000_000, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    return [json.dumps(e) for e in evs] + [""]


def test_event_log_reader_splits_by_job_group():
    groups = M.read_event_log(_events())
    g = groups["x1.collect"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert g["task_run_s"] == pytest.approx(0.6)
    assert g["jvm_cpu_s"] == pytest.approx(0.3)
    assert g["gc_s"] == pytest.approx(0.015)
    assert g["shuffle_write_bytes"] == 1500
    assert g["shuffle_read_bytes"] == 1500
    assert g["spill_bytes"] == 64
    assert groups[""]["jobs"] == 1 and groups[""]["tasks"] == 1
    merged = M.merge_groups(groups, ["x1.collect", "", "missing"])
    assert merged["tasks"] == 4


def test_event_log_jobs_in_foreign_groups_go_to_the_open_window():
    # a streaming micro-batch runs under the query's runId on the query's
    # thread: its jobs belong to the span open when they were submitted
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Submission Time": 1_000_500,
         "Properties": {"spark.jobGroup.id": "r1.pipeline"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Submission Time": 1_002_500,
         "Properties": {"spark.jobGroup.id": "1b9d6bcd-bbfd-4b2d-9b5d-ab8dfbbd4bed"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2], "Submission Time": 1_002_600,
         "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [3], "Submission Time": 1_009_000,
         "Properties": {"spark.jobGroup.id": "1b9d6bcd-bbfd-4b2d-9b5d-ab8dfbbd4bed"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 700}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    # span clock = epoch - 1000 s
    windows = [("r1.pipeline", 0.0, 5.0), ("r1.ingest", 2.0, 4.0), ("r2.ingest", 8.5, 8.9)]
    groups = M.read_event_log([json.dumps(e) for e in evs], windows, clock_offset_s=1000.0)
    # a job in one of the benchmark's own groups stays there, even inside
    # a narrower window
    assert groups["r1.pipeline"]["jobs"] == 1
    # foreign or missing group: the innermost window open at submission
    g = groups["r1.ingest"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (2, 1, 1)
    assert g["task_run_s"] == pytest.approx(0.7)
    # outside every window: kept under its own group
    assert groups["1b9d6bcd-bbfd-4b2d-9b5d-ab8dfbbd4bed"]["jobs"] == 1
    assert "r2.ingest" not in groups


def test_count_drift_flags_every_changed_counter():
    a = {"op1": {"exec.jobs": 3, "exec.stages": 4}, "op2": {"exec.jobs": 1}}
    b = {"op1": {"exec.jobs": 3, "exec.stages": 5}, "op2": {"exec.jobs": 1}, "op3": {"exec.jobs": 9}}
    assert M.count_drift(a, b) == [{"key": "op1", "counter": "exec.stages", "first": 4, "second": 5}]


def test_counts_table_flags_counts_that_change_between_executions():
    base = {c: 1 for c in run.COUNTS}
    rows = [
        {"op": "a", "signature": "s1", **base},
        {"op": "a", "signature": "s1", **base},
        {"op": "b", "signature": "s2", **base},
        {"op": "b", "signature": "s2", **{**base, "exec.jobs": 2}},
    ]
    table = run.counts_table(rows)
    assert table["drift"] == [{"key": "b", "counter": "exec.jobs", "first": 1, "second": 2}]
    assert table["per_signature"]["s2"]["ops"] == ["b"]
    assert len(table["per_signature"]["s2"]["counts"]) == 2


def test_shuffle_bytes_alone_do_not_drift():
    base = {c: 1 for c in run.COUNTS}
    noisy = {**base, "exec.shuffle_write_bytes": 1300, "exec.shuffle_read_bytes": 1250}
    table = run.counts_table([{"op": "a", "signature": "s1", **base}, {"op": "a", "signature": "s1", **noisy}])
    assert table["drift"] == []
    # the per-op and per-signature tables still report shuffle bytes
    assert table["per_op"]["a"]["exec.shuffle_write_bytes"] == 1
    assert len(table["per_signature"]["s1"]["counts"]) == 2


def test_strata_medians_span_the_cost_range():
    ops = [[f"op{i:02d}", i / 10] for i in range(40)]
    random.Random(7).shuffle(ops)
    picks = strata_medians(ops, 8)
    assert picks == strata_medians(list(reversed(ops)), 8)
    # one op from the middle of each 5-op stratum
    assert picks == [f"op{i:02d}" for i in range(2, 40, 5)]


def test_family_sample_covers_every_family():
    ops = [[f"a{i:02d}", i / 10, "big"] for i in range(30)]
    ops += [[f"b{i}", i / 10, "mid"] for i in range(10)]
    ops += [["c0", 0.5, "tiny"], ["c1", 0.1, "tiny"]]
    random.Random(3).shuffle(ops)
    picks = family_sample(ops, 6)
    assert picks == family_sample(list(reversed(ops)), 6)
    # one slot each, then D'Hondt: big 30/2, 30/3, 30/4 beat mid's 10/2
    assert sorted(p[0] for p in picks) == ["a"] * 4 + ["b", "c"]
    assert [p for p in picks if p.startswith("a")] == strata_medians([o for o in ops if o[2] == "big"], 4)
    assert "b5" in picks and "c0" in picks
    assert len(set(picks)) == 6


def test_expected_bigrams_recount():
    lines = ["a b a b", "a b"] * 20
    # a_b: 2 x 20 + 20 = 60 (kept); b_a: 20 (below the threshold of 40)
    assert expected_bigrams(lines) == ["a_b 60"]


def test_expected_survivors_batch_near_dedup():
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19"
    docs = [
        (5, base),
        (3, base + " dup"),  # 16 of 17 shingles shared: jaccard 0.94
        (9, base.replace("w10", "x")),  # 11 of 21: below 0.8
        (7, "short text"),  # no shingles: always kept
        (4, base + " dup"),  # exact copy of doc 3
    ]
    assert expected_survivors(docs) == {3, 9, 7}


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
