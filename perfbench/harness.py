"""Benchmark client: one workload, one Python process, one closed-loop client.

Launched by `run.py` with the engine package on PYTHONPATH (as an installed
package would be), inside a private working directory. Reads a JSON config,
runs the workload, checks every timed output (untimed) and writes raw
records, spans and timings to the config's `out` file. All aggregation
happens in `run.py` / `metrics.py`.

    python3 perfbench/harness.py CONFIG.json
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import sys
import time
import traceback

from gen import FmCorpus
from spans import Tracer, catalyst_phases, dir_bytes, instrument, plan_signature

HERE = os.path.dirname(os.path.abspath(__file__))

WARMUP_PASSES = 1

# fm_make: the shell pipeline (map -> reduce -> map): word bigrams, counted
# per bucket, then the frequent ones.
BIGRAM_MIN = 40
PIPELINE = [
    ("map", "awk '{for (i = 1; i < NF; i++) print $i \"_\" $(i+1)}'"),
    ("reduce", "sort | uniq -c | awk '{print $2, $1}'"),
    ("map", f"awk '$2 >= {BIGRAM_MIN}'"),
]
# fm_make: memo-wrapped registry text ops refreshed over the growing corpus.
FM_MEMO_OPS = ("text_bigram_pmi", "dedup_line_level")
# reduce buckets: one shell per bucket, a few per core
FM_BUCKETS = 8
# fm_make: at least this many deltas (each refresh gives one sample per
# target). A third delta cost about 10 s a run at local[4] and did not
# narrow the run-to-run spread.
FM_MIN_DELTAS = 2


def load_pool() -> dict:
    with open(os.path.join(HERE, "pools.json")) as f:
        return json.load(f)


def strata_medians(ops: list[list], k: int) -> list[str]:
    """The median-cost op of each of `k` equal-count cost strata of `ops`
    ([name, cost, ...] rows)."""
    ranked = sorted(ops, key=lambda o: (o[1], o[0]))
    n = len(ranked)
    return [ranked[(i * n // k + (i + 1) * n // k) // 2][0] for i in range(k)]


def family_sample(ops: list[list], k: int) -> list[str]:
    """A fixed sample of `k` ops from the pool's [name, cost, family] rows:
    one slot per family, the rest handed out one at a time to the family
    with the most pool ops per slot (D'Hondt); each family gives the
    strata medians of its own ops. Every family is covered and each keeps
    its cost profile. (Samples drawn per seed moved op_p50_s by about a
    quarter from seed to seed, because an op's cost in a fresh session is
    only loosely predicted by calibration; the seed picks the order of
    every pass instead.)"""
    fams: dict[str, list] = {}
    for row in ops:
        fams.setdefault(row[2], []).append(row)
    slots = dict.fromkeys(fams, 1)
    for _ in range(k - len(fams)):
        best = max(sorted(fams), key=lambda f: len(fams[f]) / (slots[f] + 1))
        slots[best] += 1
    return [name for f in sorted(fams) for name in strata_medians(fams[f], slots[f])]


# ---------------------------------------------------------------- checks


def rows_frame(rows, schema):
    """Collected Rows as the pandas frame `toPandas()` would give the
    differential harness: integral columns holding nulls become float."""
    import pandas as pd
    from pyspark.sql.types import IntegralType

    cols = schema.fieldNames()
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
    if not len(rows):
        return pdf
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, IntegralType) and pdf.iloc[:, i].isna().any():
            pdf.isetitem(i, pdf.iloc[:, i].astype("float64"))
    return pdf


def frame_digest(pdf) -> str:
    from filemap_spark.testing import canonical_rows

    cols, rows = canonical_rows(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class Checker:
    """Each op against its DuckDB oracle through `testing.compare_frames`
    (the oracle side computed once per op; equal canonical-row digests
    short-cut the comparison). `connect` opens the DuckDB connection
    holding the tables' views."""

    def __init__(self, connect, oracle: dict[str, str]):
        self.connect = connect
        self.oracle = oracle
        self._duck = None
        self._expected: dict[str, tuple] = {}

    def check(self, name: str, rows, schema) -> tuple[bool, str]:
        if name not in self.oracle:
            return False, "no oracle"
        pdf = rows_frame(rows, schema)
        want, duck_pdf = self._oracle_side(name)
        if frame_digest(pdf) == want:
            return True, ""
        from filemap_spark.testing import compare_frames

        res = compare_frames(name, pdf, duck_pdf)
        return res.ok, (res.detail + " " + "; ".join(res.diffs[:2])).strip()

    def _oracle_side(self, name: str):
        if name not in self._expected:
            if self._duck is None:
                self._duck = self.connect()
            duck_pdf = self._duck.execute(self.oracle[name]).df()
            self._expected[name] = (frame_digest(duck_pdf), duck_pdf)
        return self._expected[name]


# ------------------------------------------------------------- op workloads


class OpRunner:
    def __init__(self, spark, tracer: Tracer, sf_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.n = 0

    def run(self, name: str, fn, phase: str) -> tuple[dict, object, list | None]:
        """Build the op fresh and collect it; returns (record, df, rows)."""
        self.n += 1
        k = self.n
        tr = self.tracer
        rec = {"op": name, "phase": phase, "traced": tr.on, "k": k}
        df = rows = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=name, k=k, phase=phase) as op_sp:
                with tr.span("build", group=f"x{k}.build"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span("collect", group=f"x{k}.collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0)
            if op_sp is not None:
                op_sp["catalyst_ms"] = catalyst_phases(df)
                op_sp["signature"] = plan_signature(df)
        except Exception as e:  # an op that raises counts as failed
            rec["error"] = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300] if str(e).strip() else ''}"
        return rec, df, rows


def run_ops(cfg: dict, spark, tracer: Tracer, timings: dict) -> dict:
    from filemap_spark import registry

    pool = load_pool()
    rng = random.Random(cfg["seed"])
    sample = family_sample(pool["ops"], pool["sample"])
    rng.shuffle(sample)
    queries = registry.all_queries()
    from filemap_spark.testing import duck_connect

    checker = Checker(lambda: duck_connect(cfg["sf_dir"]), registry.all_oracle())
    runner = OpRunner(spark, tracer, cfg["sf_dir"])
    records: list[dict] = []
    trace = cfg["trace"]

    def execute(name: str, phase: str, check: bool) -> float:
        rec, df, rows = runner.run(name, queries[name], phase)
        if check and "error" not in rec:
            t = time.perf_counter()
            rec["ok"], rec["detail"] = checker.check(name, rows, df.schema)
            rec["check_s"] = time.perf_counter() - t
        records.append(rec)
        return rec.get("wall_s", 0.0)

    # an untimed, untraced warm-up pass over the sample: an op's first
    # execution in a session pays for JIT compilation, code generation and
    # lazy set-up (some ops also run more Spark jobs the first time). A
    # second warm-up pass moved no end-to-end figure by more than its
    # run-to-run spread and cost about 11 s a run at local[4].
    tracer.on = False
    for _ in range(WARMUP_PASSES):
        for name in sample:
            execute(name, "warmup", check=False)
    tmp_before = dir_bytes(cfg["tmp_dir"])
    timings["first_timed"] = time.time()
    timings["cpu_first_timed"] = host_cpu_jiffies()
    # timed passes, each in a fresh seeded order: at least two whole passes,
    # more if the first leaves `seconds` unfilled (a fixed count keeps the
    # later, warmer passes from weighing differently from run to run).
    # Traced runs alternate traced and untraced passes, at least three, so
    # each op has two traced executions whose counts are compared and an
    # untraced one (the difference is the tracing overhead).
    min_passes = 3 if trace else 2
    elapsed, passes, n_passes = 0.0, 0, None
    while n_passes is None or passes < n_passes:
        tracer.on = bool(trace) and passes % 2 == 0
        order = sample[:]
        rng.shuffle(order)
        t = time.perf_counter()
        for name in order:
            execute(name, "timed", check=True)
        elapsed += time.perf_counter() - t
        passes += 1
        if n_passes is None:
            n_passes = max(min_passes, math.ceil(cfg["seconds"] / elapsed))
    tracer.on = False
    timings["cpu_last_timed"] = host_cpu_jiffies()
    timed = [r for r in records if r["phase"] == "timed"]
    return {
        "sample": sample,
        "records": records,
        "timed_elapsed_s": elapsed,
        "passes": passes,
        "tmp_bytes_left": dir_bytes(cfg["tmp_dir"]) - tmp_before,
        "tmp_ops": len(timed),
    }


# ----------------------------------------------------------------- fm_make


def _read_lines(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith("part-"):
                with open(os.path.join(root, f)) as fh:
                    out.extend(line.rstrip("\n") for line in fh)
    return out


def expected_bigrams(lines: list[str]) -> list[str]:
    """Independent recount of the pipeline's output from the input lines."""
    from collections import Counter

    counts: Counter = Counter()
    for line in lines:
        words = line.split()
        counts.update(f"{a}_{b}" for a, b in zip(words, words[1:]))
    return sorted(f"{bg} {c}" for bg, c in counts.items() if c >= BIGRAM_MIN)


def expected_survivors(docs: list[tuple[int, str]]) -> set[int]:
    """Independent batch near-dedup of the union: word-5-gram shingle
    Jaccard >= 0.8 pairs, connected components, the min doc_id of each
    component survives (the rule `cli.run_dedup(method="near")` states)."""
    from collections import Counter, defaultdict

    shingles = {}
    for doc_id, text in docs:
        w = text.split(" ")
        shingles[doc_id] = {" ".join(w[p : p + 5]) for p in range(len(w) - 4)}
    index = defaultdict(list)
    for doc_id, sh in shingles.items():
        for s in sh:
            index[s].append(doc_id)
    inter: Counter = Counter()
    for ids in index.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter[(a, b)] += 1
    parent = {d: d for d in shingles}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), n in inter.items():
        if n / (len(shingles[a]) + len(shingles[b]) - n) >= 0.8:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {d for d in shingles if root(d) == d}


def _duck_documents(batch_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{batch_dir}/*.parquet')")
    return con


def _file_state(paths: list[str]) -> dict[str, tuple[int, int]]:
    state = {}
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                try:
                    st = os.lstat(fp)
                except OSError:
                    continue
                state[fp] = (st.st_size, st.st_mtime_ns)
    return state


class FmMake:
    """The fm_make derived targets over one FmCorpus: the memoized shell
    pipeline, the streamed dedup ingest and the memo-wrapped text ops."""

    def __init__(self, spark, tracer: Tracer, corpus: FmCorpus, out_root: str, memo_ops: dict):
        self.spark = spark
        self.tracer = tracer
        self.corpus = corpus
        self.pipe_out = os.path.join(out_root, "pipeline")
        self.dedup_out = os.path.join(out_root, "dedup")
        self.warehouse = os.environ["FILEMAP_WAREHOUSE"]
        self.memo_ops = memo_ops
        self.n = 0

    def outputs(self) -> list[str]:
        return [self.pipe_out, self.dedup_out, self.warehouse]

    def refresh(self, kind: str) -> dict:
        """Bring every derived target up to date, one target after the
        other; returns the refresh's and each target's wall time, and the
        outputs."""
        from filemap_spark.cli import run_dedup_stream, run_pipeline

        self.n += 1
        r, tr = f"r{self.n}", self.tracer
        before = _file_state(self.outputs())
        out: dict = {"kind": kind, "traced": tr.on, "targets": {}}
        t0 = time.perf_counter()
        with tr.span("refresh", kind=kind, n=self.n) as sp:
            with tr.span("pipeline", group=f"{r}.pipeline"):
                t = time.perf_counter()
                out["pipeline_lines"] = run_pipeline(
                    self.spark, self.corpus.text_dir, self.pipe_out, PIPELINE,
                    buckets=FM_BUCKETS, memo=True,
                )
                out["targets"]["pipeline"] = time.perf_counter() - t
            with tr.span("ingest", group=f"{r}.ingest"):
                t = time.perf_counter()
                out["kept"], out["total"] = run_dedup_stream(
                    self.spark, self.corpus.batch_dir, self.dedup_out
                )
                out["targets"]["ingest"] = time.perf_counter() - t
            with tr.span("memo", group=f"{r}.memo"):
                out["memo_rows"] = {}
                for name, fn in self.memo_ops.items():
                    t = time.perf_counter()
                    df = fn(self.spark, self.corpus.corpus_dir)
                    out["memo_rows"][name] = (df.collect(), df.schema)
                    out["targets"][name] = time.perf_counter() - t
        out["wall_s"] = time.perf_counter() - t0
        if sp is not None:
            out["span_id"] = sp["id"]
        after = _file_state(self.outputs())
        out["bytes_written"] = sum(
            st[0] for fp, st in after.items() if before.get(fp) != st
        )
        return out


def run_fm(cfg: dict, spark, tracer: Tracer, timings: dict) -> dict:
    import pyarrow.parquet as pq
    from filemap_spark import registry

    documents = pq.read_table(os.path.join(cfg["sf_dir"], "documents.parquet"))
    wanted = registry.memo_queries()
    memo_ops = {n: wanted[n] for n in FM_MEMO_OPS}
    oracle = registry.all_oracle()
    fm_cfg = cfg["fm"]
    trace = cfg["trace"]

    # No warm-up: the timed cold build runs in the fresh session, as the
    # first `fm` command of a new process would, so JIT and worker start-up
    # land in cold_s; the refreshes after it run warm.
    corpus = FmCorpus(
        os.path.join(cfg["work_dir"], "fm_in"), documents, cfg["seed"],
        fm_cfg["files"], fm_cfg["batch_docs"],
    )
    for _ in range(fm_cfg["initial_batches"]):
        corpus.add_batch()
    fm = FmMake(spark, tracer, corpus, os.path.join(cfg["work_dir"], "fm_out"), memo_ops)
    checks: list[dict] = []
    refreshes: list[dict] = []

    def check(res: dict) -> None:
        """Every derived target against an independent recount of the
        inputs: the pipeline against a Python bigram count, the streamed
        dedup against a Python batch near-dedup of the union, the memo
        results against their DuckDB oracles over the current corpus."""
        t = time.perf_counter()
        problems = []
        got = sorted(_read_lines(os.path.join(fm.pipe_out, "final")))
        want = expected_bigrams(corpus.lines())
        if got != want or res["pipeline_lines"] != len(want):
            problems.append(f"pipeline: {len(got)} lines, recount {len(want)}")
        docs = corpus.docs()
        kept = set(pq.read_table(os.path.join(fm.dedup_out, "documents.parquet"), columns=["doc_id"])
                   .column("doc_id").to_pylist())
        want_kept = expected_survivors(docs)
        if res["total"] != len(docs) or kept != want_kept or res["kept"] != len(want_kept):
            problems.append(f"dedup: kept {len(kept)} of {res['total']}, batch near-dedup keeps "
                            f"{len(want_kept)} of {len(docs)}")
        checker = Checker(lambda: _duck_documents(corpus.batch_dir), oracle)
        for name, (rows, schema) in res.pop("memo_rows").items():
            ok, detail = checker.check(name, rows, schema)
            if not ok:
                problems.append(f"memo {name}: {detail}")
        checks.append({"kind": res["kind"], "ok": not problems, "detail": "; ".join(problems),
                       "check_s": time.perf_counter() - t})

    tmp_before = dir_bytes(cfg["tmp_dir"])
    # The cold build counts as set-up, as the warm-up pass does on the op
    # workload; its wall time is reported as fm.cold_s.
    tracer.on = bool(trace)
    cold = fm.refresh("cold")
    check(cold)
    refreshes.append(cold)
    timings["first_timed"] = time.time()
    timings["cpu_first_timed"] = host_cpu_jiffies()
    # A series of deltas, each followed by a refresh: at least
    # FM_MIN_DELTAS, more if the first leaves `seconds` unfilled (the count
    # is fixed after the first, as the op workload fixes its passes). Then
    # a re-run with nothing changed. Traced runs alternate untraced and
    # traced deltas (their difference is the tracing overhead) and trace
    # the re-run, where the memo lookups hit.
    n_deltas, i = None, 0
    while n_deltas is None or i < n_deltas:
        tracer.on = bool(trace) and i % 2 == 1
        delta = corpus.delta()
        res = fm.refresh("delta")
        res.update(delta)
        check(res)
        refreshes.append(res)
        i += 1
        if n_deltas is None:
            n_deltas = max(FM_MIN_DELTAS, math.ceil(cfg["seconds"] / res["wall_s"]))
    tracer.on = bool(trace)
    noop = fm.refresh("noop")
    check(noop)
    refreshes.append(noop)
    tracer.on = False
    timings["cpu_last_timed"] = host_cpu_jiffies()

    tmp_left = dir_bytes(cfg["tmp_dir"]) - tmp_before
    held = sum(dir_bytes(p) for p in fm.outputs())
    return {
        "refreshes": refreshes,
        "checks": checks,
        "input_bytes": corpus.bytes_added,
        "input_bytes_held": dir_bytes(corpus.root),
        "held_bytes": held,
        "state_bytes": dir_bytes(os.path.join(fm.dedup_out, "_lsh_state")),
        "tmp_bytes_left": tmp_left,
        "memo_ops": list(FM_MEMO_OPS),
    }


# -------------------------------------------------------------------- main


def host_cpu_jiffies() -> list[int]:
    """The host CPU counters (user nice system idle iowait irq softirq
    steal ...) from /proc/stat: the share of `steal` over the timed phase
    shows whether other tenants of the machine took CPU from the run."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    timings: dict = {"t0": cfg["t0"]}
    result: dict = {"timings": timings}
    spark = None
    try:
        t = time.perf_counter()
        from filemap_spark.session import get_spark

        spark = get_spark("perfbench")
        timings["session_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from filemap_spark import registry

        registry.all_queries()
        timings["registry_import_s"] = time.perf_counter() - t
        tracer = Tracer(spark)
        instrument(tracer)
        if cfg["workload"] == "fm_make":
            result["fm"] = run_fm(cfg, spark, tracer, timings)
        else:
            result["ops"] = run_ops(cfg, spark, tracer, timings)
        result["spans"] = tracer.spans
        result["clock_offset_s"] = tracer.clock_offset_s
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["rss_kb"] = {"jvm": _vm_hwm_kb(jvm_pid), "python": _vm_hwm_kb("self")}
    except Exception:
        result["fatal"] = traceback.format_exc()
    finally:
        if spark is not None:
            spark.stop()
    with open(cfg["out"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
