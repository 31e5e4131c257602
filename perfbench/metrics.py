"""Aggregation for the benchmark: percentiles, failure shares, span self
time and the Spark event-log reader. Pure Python (no Spark, no numpy) so the
rules are unit-tested on synthetic inputs (perfbench/tests)."""

from __future__ import annotations

import json
import math
from collections import defaultdict
from collections.abc import Iterable


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values: list[float]) -> dict[str, float]:
    """p50/p90 with the sample count they rest on, and how many samples lie
    above the p90 (the guide's "at least ten beyond it" test is
    `n_beyond_p90 >= 10`)."""
    p90 = percentile(values, 90)
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "p90": p90,
        "n_beyond_p90": sum(1 for v in values if v > p90),
    }


def failed_frac(records: list[dict]) -> tuple[int, int, float]:
    """(attempted, failed, failed/attempted) over op records; an op failed
    when it raised (`error`) or its output did not check (`ok` false)."""
    attempted = len(records)
    failed = sum(1 for r in records if r.get("error") or not r.get("ok", False))
    return attempted, failed, (failed / attempted if attempted else 0.0)


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    lo, hi = span["start"], span["end"]
    cuts = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in spans
        if c.get("parent") == span["id"] and c["end"] > lo and c["start"] < hi
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in cuts:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def coverage_gap(span: dict, spans: list[dict]) -> float:
    """Share of a span's duration NOT covered by its direct children."""
    dur = span["end"] - span["start"]
    return self_time(span, spans) / dur if dur > 0 else 0.0


_GROUP_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "jvm_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


def empty_group() -> dict[str, float]:
    return {k: 0 for k in _GROUP_FIELDS}


def attribute_group(group: str, submit_s: float | None, windows: list[tuple[str, float, float]]) -> str:
    """The job group a job is counted under. `windows` are the benchmark's
    own (group, start_s, end_s) spans. A job already in one of those groups
    stays there. A job in any other group (Structured Streaming runs each
    micro-batch under the query's runId, on the query's own thread) or in
    none goes to the innermost window open at its submission time."""
    if any(group == w[0] for w in windows) or submit_s is None:
        return group
    inside = [w for w in windows if w[1] <= submit_s <= w[2]]
    return max(inside, key=lambda w: w[1])[0] if inside else group


def read_event_log(lines: Iterable[str], windows: list[tuple[str, float, float]] = (),
                   clock_offset_s: float = 0.0) -> dict[str, dict[str, float]]:
    """Per job group totals from an uncompressed, non-rolling Spark event
    log: jobs started, stages completed, tasks ended, task run/CPU/GC
    seconds, shuffle bytes written/read and bytes spilled (memory + disk).
    Jobs are grouped by `attribute_group`, with a job's submission time
    (epoch ms) moved onto the windows' clock by subtracting
    `clock_offset_s`. Jobs without a group and outside every window are
    filed under ""."""
    windows = list(windows)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(empty_group)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            submit = ev.get("Submission Time")
            group = attribute_group(group, None if submit is None else submit / 1e3 - clock_offset_s, windows)
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            g = out[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            if not m:
                continue
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def merge_groups(groups: dict[str, dict[str, float]], names: Iterable[str]) -> dict[str, float]:
    total = empty_group()
    for name in names:
        for k, v in groups.get(name, {}).items():
            total[k] += v
    return total


def count_drift(first: dict[str, dict], second: dict[str, dict]) -> list[dict]:
    """Counts that should repeat exactly, compared key by key between two
    run sets ({key: {counter: value}}); returns one row per difference."""
    rows = []
    for key in sorted(set(first) & set(second)):
        for counter in sorted(set(first[key]) | set(second[key])):
            a, b = first[key].get(counter), second[key].get(counter)
            if a != b:
                rows.append({"key": key, "counter": counter, "first": a, "second": b})
    return rows


def median(values: Iterable[float]) -> float:
    return percentile(values, 50)
