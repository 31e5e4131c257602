"""Rebuild perfbench/pools.json: the olap_mix op pool and each op's cost.

    python3 perfbench/calibrate.py              # ~15 min at local[4]
    python3 perfbench/calibrate.py --from-raw   # reuse the measured sessions

Runs every oracle-bearing op of the olap_mix families twice in one session
(cold, then warm) on the generated sf0.1 tables and checks the warm output
against DuckDB. An op that raises, or that falls outside the cost or
result-size caps, is listed under "excluded" with the reason. An op that
runs but disagrees with its oracle stays in the pool (the benchmark counts
and names it as failed whenever it is sampled) and is listed under
"oracle_mismatch". A second session measures each kept op the way the
benchmark runs it, in groups of `sample` ops after the warm-up pass; that
interleaved cost is the one the pool records and the sample
(`harness.family_sample`) stratifies on.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

FAMILIES = ("scans", "filters", "joins", "aggregates", "windows", "sorts",
            "setops", "scalars", "streaming", "relational")
# The sample size and cost caps keep an olap_mix run (a warm-up pass and two
# timed passes) near a minute at local[4].
SAMPLE = 12
MIN_COST_S = 0.2
MAX_COST_S = 1.0
MAX_ROWS = 20_000
SLOW_COLD_S = 20.0


def child(cfg_path: str) -> None:
    """Runs inside the launched engine process."""
    from harness import WARMUP_PASSES, Checker, OpRunner
    from spans import Tracer

    with open(cfg_path) as f:
        cfg = json.load(f)
    from filemap_spark import registry
    from filemap_spark.session import get_spark
    from filemap_spark.testing import duck_connect

    spark = get_spark("perfbench-calibrate")
    queries = registry.all_queries()
    checker = Checker(lambda: duck_connect(cfg["sf_dir"]), registry.all_oracle())
    runner = OpRunner(spark, Tracer(spark), cfg["sf_dir"])
    out = {}
    if cfg["interleave"]:
        # the benchmark's access pattern: groups of `interleave` ops, run
        # in turn for the warm-up pass(es) plus one measured pass
        ops = cfg["ops"]
        for i in range(0, len(ops), cfg["interleave"]):
            group = ops[i : i + cfg["interleave"]]
            for p in range(WARMUP_PASSES + 1):
                for name in group:
                    rec, _df, _rows = runner.run(name, queries[name], "interleaved")
                    if p == WARMUP_PASSES:
                        out[name] = {"cost_s": rec.get("wall_s"), "error": rec.get("error")}
            print(i, json.dumps({n: out[n] for n in group})[:300], flush=True)
            with open(cfg["out"], "w") as f:
                json.dump(out, f)
        spark.stop()
        return
    for name in cfg["ops"]:
        rec, df, rows = runner.run(name, queries[name], "cold")
        entry = {"cold_s": rec.get("wall_s")}
        if "error" in rec:
            entry["error"] = rec["error"]
        elif rec["wall_s"] <= SLOW_COLD_S:
            rec, df, rows = runner.run(name, queries[name], "warm")
            if "error" in rec:
                entry["error"] = rec["error"]
            else:
                entry["cost_s"] = rec["wall_s"]
                entry["rows"] = len(rows)
                entry["ok"], entry["detail"] = checker.check(name, rows, df.schema)
        out[name] = entry
        print(name, json.dumps(entry)[:200], flush=True)
        with open(cfg["out"], "w") as f:
            json.dump(out, f)
    spark.stop()


def _session(ops: list[str], interleave: int = 0) -> dict:
    import run

    root_tmp = os.path.join(run.ROOT, ".perfbench_runs")
    run_dir, cfg = run.prepare(root_tmp, "calibrate", 0, 0, False)
    cfg.update(ops=ops, interleave=interleave)
    try:
        return run.launch("calibrate.py", cfg, run_dir, False, timeout=4 * 3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from filemap_spark import registry

    registry.all_queries()
    oracle = registry.all_oracle()
    candidates = [
        n for n, (fam, _i, _c) in sorted(registry._META.items(), key=lambda kv: kv[1][1])
        if fam in FAMILIES and n in oracle
    ]
    raw_path = os.path.join(HERE, ".calibration_raw.json")
    t = time.time()
    raw = {}
    if "--from-raw" in sys.argv:
        with open(raw_path) as f:
            raw = json.load(f)
    if "first" not in raw:
        raw["first"] = _session(candidates)
    first = raw["first"]

    kept, excluded, mismatch = [], {}, {}
    for n in candidates:
        e = first.get(n, {})
        reason = None
        if "error" in e:
            reason = f"raises: {e['error'][:160]}"
        elif "cost_s" not in e:
            reason = f"cold run {e.get('cold_s', 0):.1f} s > {SLOW_COLD_S:.0f} s"
        elif not MIN_COST_S <= e["cost_s"] <= MAX_COST_S:
            reason = f"warm cost {e['cost_s']:.2f} s outside [{MIN_COST_S}, {MAX_COST_S}] s"
        elif e["rows"] > MAX_ROWS:
            reason = f"{e['rows']} result rows > {MAX_ROWS} cap"
        if reason:
            excluded[n] = reason
            continue
        if not e.get("ok"):
            mismatch[n] = e.get("detail", "")[:300]
        kept.append(n)
    # stratify on the cost an op has in the benchmark's interleaved passes:
    # an op run between others can cost 2-3x its back-to-back cost (e.g. its
    # generated code evicted from the codegen cache). The session is re-run
    # whenever the pool has an op it did not measure.
    inter = raw.get("interleaved", {})
    if not set(kept) <= set(inter):
        inter = raw["interleaved"] = _session(kept, interleave=SAMPLE)
    ops = []
    for n in kept:
        if inter.get(n, {}).get("error") or not inter.get(n, {}).get("cost_s"):
            excluded[n] = f"interleaved run: {inter.get(n, {}).get('error') or 'missing'}"
            mismatch.pop(n, None)
        else:
            ops.append([n, round(inter[n]["cost_s"], 3), registry._META[n][0]])
    doc = {
        "about": "Generated by perfbench/calibrate.py: the olap_mix op pool (name, interleaved warm "
                 "cost in s at local[4], sf0.1, family), the pooled ops that disagreed with their DuckDB "
                 "oracle at calibration, and the ops left out with the reason.",
        "families": list(FAMILIES),
        "sample": SAMPLE,
        "ops": ops,
        "oracle_mismatch": dict(sorted(mismatch.items())),
        "excluded": dict(sorted(excluded.items())),
    }
    with open(os.path.join(HERE, "pools.json"), "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    with open(raw_path, "w") as f:
        json.dump(raw, f)
    print(f"calibrated in {time.time() - t:.0f} s", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1].endswith("config.json"):
        child(sys.argv[1])
    else:
        main()
