"""Workload benchmark for the filemap_spark engine.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Runs one workload (olap_mix or fm_make) in a fresh, private
run directory under the checkout, checks every timed output, and prints the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`),
ending with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The engine runs in a child process (`harness.py`) that imports the package
from PYTHONPATH, with its own TMPDIR, FILEMAP_WAREHOUSE, SPARK_LOCAL_DIRS and
working directory, all removed afterwards. Spark launch settings (console
progress off; in traced runs an uncompressed, non-rolling event log in a
private directory) come in through PYSPARK_SUBMIT_ARGS so `get_spark` stays
the code path being measured.

    python3 perfbench/run.py --diff-counts A.json B.json

compares the exact counters two traced runs wrote with `--counts-out`.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_mix", "fm_make")
SF = 0.1
FM = {"files": 16, "batch_docs": 100, "initial_batches": 1}
CHILD_TIMEOUT_S = 165

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_min": "1/min",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "io.load_table.jobs": "count",
    "operators.build.s": "s",
    "operators.build.jobs": "count",
    "operators.build.share": "frac",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.collect.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_run_s": "s",
    "exec.jvm_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.offcpu_s": "s",
    "exec.idle_core_frac": "frac",
    "cli.stage.map_s": "s",
    "cli.stage.reduce_s": "s",
    "cli.stages_rerun_frac": "frac",
    "cli.pipe_tasks": "count",
    "ingest.batch_s": "s",
    "ingest.docs_per_s": "1/s",
    "ingest.state_bytes": "bytes",
    "memo.lookups": "count",
    "memo.hit_ratio": "frac",
    "memo.miss_s": "s",
    "memo.hit_s": "s",
    "memo.bytes_written": "bytes",
    "fm.cold_s": "s",
    "fm.refresh_p50_s": "s",
    "fm.noop_p50_s": "s",
    "fm.write_amp": "ratio",
    "fm.space_amp": "ratio",
    "tmp.bytes_left": "bytes",
    "mem.peak_rss_mb": "MB",
    "check.ops_checked": "count",
    "check.mismatches": "count",
    "check.count_drift": "count",
    "trace.overhead_frac": "frac",
    "trace.uncovered_frac": "frac",
}
# Counters reported per op and per plan signature.
COUNTS = (
    "exec.jobs",
    "exec.stages",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "operators.build.jobs",
    "io.load_table.calls",
)
# The ones that repeat exactly for a fixed plan on fixed data, compared for
# drift. Shuffle bytes are left out: some ops' shuffle files differ by a few
# hundred bytes from one execution to the next.
DRIFT_COUNTS = ("exec.jobs", "exec.stages", "operators.build.jobs", "io.load_table.calls")


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ launch


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(stat.split("/")[2]))
    return pids


def stop_group(pgid: int, timeout: float = 20.0) -> None:
    """Kill whatever is left of the child's process group (JVM, Python
    workers, piped shells) and wait until every member has ended."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while _group_pids(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(0.2)
        sig = signal.SIGKILL


def launch(script: str, cfg: dict, run_dir: str, trace: bool, timeout: float) -> dict:
    """Run `script CONFIG` with the engine on PYTHONPATH in the run's
    private directories; returns the JSON the child wrote to cfg["out"]."""
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "--driver-java-options", f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{cfg['event_dir']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=cfg["tmp_dir"],
        FILEMAP_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        TZ="UTC",
    )
    env.pop("FILEMAP_MEMO", None)
    cfg_path = os.path.join(run_dir, "config.json")
    log_path = os.path.join(run_dir, "child.log")
    cfg["t0"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script), cfg_path],
            cwd=cfg["work_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc.pid)
            proc.wait()
    if not os.path.exists(cfg["out"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{script} wrote no result (exit {proc.returncode}); log tail:\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def prepare(root_tmp: str, workload: str, seed: int, seconds: int, trace: bool) -> tuple[str, dict]:
    """A fresh run directory holding the generated inputs and the private
    state directories; returns (run_dir, child config)."""
    import gen

    run_dir = os.path.join(root_tmp, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    cfg = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "cores": cores(),
        "sf_dir": os.path.join(run_dir, "data", f"sf{SF}"),
        "work_dir": os.path.join(run_dir, "work"),
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "event_dir": os.path.join(run_dir, "events"),
        "out": os.path.join(run_dir, "result.json"),
        "fm": FM,
    }
    for d in ("work_dir", "tmp_dir", "event_dir"):
        os.makedirs(cfg[d])
    gen.write_tables(cfg["sf_dir"], SF)
    return run_dir, cfg


# ----------------------------------------------------------------- metrics


def _med(values, default=0.0):
    values = list(values)
    return M.median(values) if values else default


def peak_rss_mb(res: dict) -> float:
    return (res["rss_kb"]["jvm"] + res["rss_kb"]["python"]) / 1024.0


def end_to_end(res: dict, workload: str) -> tuple[dict, dict]:
    """(metrics, detail) from an untraced-or-traced child result."""
    t = res["timings"]
    out = {"setup_s": t["first_timed"] - t["t0"]}
    if workload == "fm_make":
        # the unit of work is one derived target brought up to date after
        # a delta (one `fm` command): four samples per refresh
        refreshes = res["fm"]["refreshes"]
        deltas = [r for r in refreshes if r["kind"] == "delta" and not r["traced"]]
        walls = [s for r in deltas for s in r["targets"].values()]
        detail = {
            "cold_s": round(refreshes[0]["wall_s"], 3),
            "refresh_s": [round(r["wall_s"], 3) for r in deltas],
            "noop_s": [round(r["wall_s"], 3) for r in refreshes if r["kind"] == "noop"],
        }
    else:
        recs = res["ops"]["records"]
        walls = [r["wall_s"] for r in recs if r["phase"] == "timed" and not r["traced"] and "wall_s" in r]
        detail = {"sample": res["ops"]["sample"], "passes": res["ops"]["passes"]}
    summ = M.latency_summary(walls)
    out["op_p50_s"] = summ["p50"]
    out["op_p90_s"] = summ["p90"]
    out["ops_per_min"] = 60.0 * len(walls) / sum(walls)
    a, b = t["cpu_first_timed"], t["cpu_last_timed"]
    total = sum(b) - sum(a)
    detail.update(host_steal_frac=round((b[7] - a[7]) / total, 4) if total else 0.0,
                  host_idle_frac=round((b[3] - a[3]) / total, 4) if total else 0.0)
    detail.update(peak_rss_mb=round(peak_rss_mb(res), 1), op_samples=summ["n"], beyond_p90=summ["n_beyond_p90"])
    return out, detail


def checks(res: dict, workload: str) -> tuple[int, int, list[str]]:
    """(attempted, failed, failure names) over every checked output."""
    if workload == "fm_make":
        recs = res["fm"]["checks"]
        names = [f"{c['kind']}: {c['detail']}" for c in recs if not c["ok"]]
    else:
        recs = [r for r in res["ops"]["records"] if r["phase"] == "timed"]
        names = [f"{r['op']}: {r.get('error') or r.get('detail')}" for r in recs
                 if r.get("error") or not r.get("ok")]
    attempted, failed, _ = M.failed_frac(recs)
    return attempted, failed, sorted(set(names))


def _children(spans: list[dict], parent: dict, name: str | None = None) -> list[dict]:
    return [s for s in spans if s["parent"] == parent["id"] and (name is None or s["name"] == name)]


def _descendants(spans: list[dict], root: dict, name: str) -> list[dict]:
    out, frontier = [], [root]
    while frontier:
        node = frontier.pop()
        for s in _children(spans, node):
            frontier.append(s)
            if s["name"] == name:
                out.append(s)
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def op_layers(spans: list[dict], groups: dict, n_cores: int) -> list[dict]:
    """One row of layer numbers per traced op execution."""
    rows = []
    for op in (s for s in spans if s["name"] == "op" and s["end"] is not None):
        build = _children(spans, op, "build")
        collect = _children(spans, op, "collect")
        if not build or not collect:
            continue
        build, collect = build[0], collect[0]
        loads = _descendants(spans, build, "io.load_table")
        k = op["k"]
        load_g = groups.get(f"x{k}.load", M.empty_group())
        build_g = groups.get(f"x{k}.build", M.empty_group())
        ex = groups.get(f"x{k}.collect", M.empty_group())
        collect_s = _dur(collect)
        rows.append({
            "op": op["op"], "phase": op["phase"], "signature": op.get("signature"),
            "io.load_table.calls": len(loads),
            "io.load_table.s": sum(_dur(s) for s in loads),
            "io.load_table.jobs": load_g["jobs"],
            "operators.build.s": M.self_time(build, spans),
            "operators.build.jobs": build_g["jobs"],
            "operators.build.share": _dur(build) / (_dur(build) + collect_s),
            "catalyst.analysis_ms": op["catalyst_ms"]["analysis"],
            "catalyst.optimization_ms": op["catalyst_ms"]["optimization"],
            "catalyst.planning_ms": op["catalyst_ms"]["planning"],
            "exec.collect.s": collect_s,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.task_run_s": ex["task_run_s"],
            "exec.jvm_cpu_s": ex["jvm_cpu_s"],
            "exec.gc_s": ex["gc_s"],
            "exec.offcpu_s": max(0.0, ex["task_run_s"] - ex["jvm_cpu_s"]),
            "exec.idle_core_frac": max(0.0, 1 - ex["task_run_s"] / (collect_s * n_cores)),
            "uncovered": M.coverage_gap(op, spans),
        })
    return rows


def counts_table(rows: list[dict]) -> dict:
    """Counters per op and per plan signature over the traced timed
    executions, with every exact count (DRIFT_COUNTS) that differs between
    two executions of an op."""
    per_op: dict[str, dict] = {}
    by_sig: dict[str, dict] = {}
    drift = []
    for r in rows:
        counts = {c: r[c] for c in COUNTS}
        seen = per_op.setdefault(r["op"], counts)
        drift += [{"key": r["op"], "counter": c, "first": seen[c], "second": counts[c]}
                  for c in DRIFT_COUNTS if seen[c] != counts[c]]
        sig = by_sig.setdefault(str(r["signature"]), {"ops": set(), "counts": set()})
        sig["ops"].add(r["op"])
        sig["counts"].add(tuple(counts[c] for c in COUNTS))
    return {
        "per_op": per_op,
        "per_signature": {
            sig: {"ops": sorted(v["ops"]), "counts": [dict(zip(COUNTS, c)) for c in sorted(v["counts"])]}
            for sig, v in sorted(by_sig.items())
        },
        "drift": drift,
    }


def _event_groups(event_dir: str, res: dict) -> dict:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in the traced run, found {len(files)}")
    windows = [(s["group"], s["start"], s["end"]) for s in res["spans"] if "group" in s and s["end"] is not None]
    with open(files[0]) as f:
        return M.read_event_log(f, windows, res["clock_offset_s"])


def per_layer(res: dict, workload: str, event_dir: str, n_cores: int, checked: tuple) -> tuple[dict, dict]:
    spans = res["spans"]
    groups = _event_groups(event_dir, res)
    out = {k: 0.0 for k in PER_LAYER}
    out["mem.peak_rss_mb"] = peak_rss_mb(res)
    out["session.start_s"] = res["timings"]["session_start_s"]
    out["registry.import_s"] = res["timings"]["registry_import_s"]
    attempted, failed, _ = checked
    out["check.ops_checked"] = attempted
    out["check.mismatches"] = failed
    detail: dict = {}
    if workload == "fm_make":
        fm = res["fm"]
        refreshes = fm["refreshes"]
        traced = [s for s in spans if s["name"] == "refresh" and s["kind"] == "delta"]
        stages = [st for r in traced for st in _descendants(spans, r, "stage")]
        out["cli.stage.map_s"] = _med(_dur(s) for s in stages if s.get("kind") == "map")
        out["cli.stage.reduce_s"] = _med(_dur(s) for s in stages if s.get("kind") == "reduce")
        out["cli.stages_rerun_frac"] = len(stages) / (3 * len(traced)) if traced else 0.0
        out["cli.pipe_tasks"] = _med(groups.get(f"r{r['n']}.stage", M.empty_group())["tasks"] for r in traced)
        batch = {r["n"]: sum(_dur(b) for b in _descendants(spans, r, "batch")) for r in traced}
        docs = {r["n"]: fm["refreshes"][r["n"] - 1].get("docs_added", 0) for r in traced}
        loads = {r["n"]: _descendants(spans, r, "io.load_table") for r in traced}
        out["io.load_table.calls"] = _med(len(v) for v in loads.values())
        out["io.load_table.s"] = _med(sum(_dur(s) for s in v) for v in loads.values())
        out["io.load_table.jobs"] = _med(groups.get(f"r{n}.load", M.empty_group())["jobs"] for n in loads)
        out["ingest.batch_s"] = _med(batch.values())
        out["ingest.docs_per_s"] = _med(docs[n] / b for n, b in batch.items() if b > 0)
        out["ingest.state_bytes"] = fm["state_bytes"]
        lookups = [s for s in spans if s["name"] == "lookup"]
        out["memo.lookups"] = len(lookups)
        out["memo.hit_ratio"] = sum(1 for s in lookups if s.get("hit")) / len(lookups) if lookups else 0.0
        out["memo.miss_s"] = _med(_dur(s) for s in lookups if not s.get("hit"))
        out["memo.hit_s"] = _med(_dur(s) for s in lookups if s.get("hit"))
        out["memo.bytes_written"] = sum(s.get("bytes_written", 0) for s in lookups)
        untraced = [r for r in refreshes if not r["traced"]]
        out["fm.cold_s"] = refreshes[0]["wall_s"]
        out["fm.refresh_p50_s"] = _med(r["wall_s"] for r in untraced if r["kind"] == "delta")
        out["fm.noop_p50_s"] = _med(r["wall_s"] for r in refreshes if r["kind"] == "noop")
        out["fm.write_amp"] = sum(r["bytes_written"] for r in refreshes) / fm["input_bytes"]
        out["fm.space_amp"] = fm["held_bytes"] / fm["input_bytes_held"]
        out["tmp.bytes_left"] = fm["tmp_bytes_left"] / len(refreshes)
        ex_rows = []
        for r in traced:
            g = M.merge_groups(groups, [k for k in groups if k.startswith(f"r{r['n']}.")])
            g["wall"] = _dur(r)
            ex_rows.append(g)
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                    "spill_bytes", "task_run_s", "jvm_cpu_s", "gc_s"):
            out[f"exec.{key}"] = _med(g[key] for g in ex_rows)
        out["exec.offcpu_s"] = _med(max(0.0, g["task_run_s"] - g["jvm_cpu_s"]) for g in ex_rows)
        out["exec.idle_core_frac"] = _med(max(0.0, 1 - g["task_run_s"] / (g["wall"] * n_cores)) for g in ex_rows)
        tops = [s for s in spans if s["name"] == "refresh"]
        out["trace.uncovered_frac"] = max((M.coverage_gap(s, spans) for s in tops), default=0.0)
        t_delta = [r["wall_s"] for r in refreshes if r["kind"] == "delta" and r["traced"]]
        u_delta = [r["wall_s"] for r in untraced if r["kind"] == "delta"]
    else:
        rows = op_layers(spans, groups, n_cores)
        timed_rows = [r for r in rows if r["phase"] == "timed"]
        for key in PER_LAYER:
            if timed_rows and key in timed_rows[0]:
                out[key] = _med(r[key] for r in timed_rows)
        out["trace.uncovered_frac"] = max((r["uncovered"] for r in rows), default=0.0)
        ops = res["ops"]
        out["tmp.bytes_left"] = ops["tmp_bytes_left"] / max(1, ops["tmp_ops"])
        table = counts_table(timed_rows)
        out["check.count_drift"] = len(table["drift"])
        detail["counts"] = table
        recs = [r for r in ops["records"] if r["phase"] == "timed" and "wall_s" in r]
        t_delta = [r["wall_s"] for r in recs if r["traced"]]
        u_delta = [r["wall_s"] for r in recs if not r["traced"]]
    if t_delta and u_delta:
        out["trace.overhead_frac"] = (_med(t_delta) - _med(u_delta)) / _med(u_delta)
    return out, detail


# -------------------------------------------------------------------- main


def _emit(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


def diff_counts(a: str, b: str) -> int:
    with open(a) as f:
        first = json.load(f)["per_op"]
    with open(b) as f:
        second = json.load(f)["per_op"]
    rows = [r for r in M.count_drift(first, second) if r["counter"] in DRIFT_COUNTS]
    for r in rows:
        print(f"DRIFT {r['key']} {r['counter']}: {r['first']} -> {r['second']}")
    print(f"{len(rows)} counts differ over {len(set(first) & set(second))} shared ops")
    return 1 if rows else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--counts-out", help="traced op workloads: write the exact counters here")
    ap.add_argument("--diff-counts", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.diff_counts:
        return diff_counts(*args.diff_counts)
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "filemap_spark", "__init__.py")):
        print(f"perfbench: no filemap_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.time()
    root_tmp = os.path.join(ROOT, ".perfbench_runs")
    run_dir, cfg = prepare(root_tmp, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        budget = CHILD_TIMEOUT_S - (time.time() - t_start)
        res = launch("harness.py", cfg, run_dir, bool(args.trace), budget)
        if "fatal" in res:
            print(res["fatal"], file=sys.stderr)
            return 1
        attempted, failed, failures = checks(res, args.workload)
        e2e, detail = end_to_end(res, args.workload)
        print(f"workload {args.workload} seed {args.seed} cores {cfg['cores']} sf {SF}: "
              + json.dumps(detail, default=str))
        print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
        for name in failures:
            print(f"FAILED {name}")
        if args.trace:
            values, layer_detail = per_layer(res, args.workload, cfg["event_dir"], cfg["cores"],
                                             (attempted, failed, failures))
            counts = layer_detail.get("counts")
            if counts:
                for op, c in sorted(counts["per_op"].items()):
                    print("counts", op, " ".join(f"{k}={v}" for k, v in c.items()))
                for sig, v in counts["per_signature"].items():
                    print("signature", sig, ",".join(v["ops"]), json.dumps(v["counts"]))
                for d in counts["drift"]:
                    print("COUNT DRIFT", json.dumps(d))
                if args.counts_out:
                    with open(args.counts_out, "w") as f:
                        json.dump(counts, f, indent=1)
            for k, unit in PER_LAYER.items():
                print(f"{k} = {values[k]:.6g} {unit}")
            units = PER_LAYER
        else:
            values, units = e2e, END_TO_END
            for k, unit in END_TO_END.items():
                print(f"{k} = {values[k]:.6g} {unit}")
        _emit(failed == 0, attempted, failed, values, units)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(root_tmp)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
