"""In-memory spans around calls into the engine's layers, recorded from
outside the engine.

`Tracer` keeps spans in a list and hands them to the harness at the end.
`instrument()` wraps the engine's public layer functions in place
(`io.load_table`, `io.spread_single_split`, `plans.memo.cached_by_key`,
`cli.run_stage`, the LSH ingest the streamed dedup calls per batch): each
wrapper opens a span and, when the tracer is on, puts the Spark jobs it
starts into their own job group so the event log can split them out. With
the tracer off the wrappers pass straight through. No engine file changes.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import re
import sys
import time


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        # epoch seconds = span clock + offset (the event log stamps jobs in
        # epoch ms)
        self.clock_offset_s = time.time() - time.perf_counter()
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Open a span under the innermost open span. `group` names the
        Spark job group for jobs started inside it (restored on exit)."""
        if not self.on:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if group is not None:
            sp["group"] = group
            self._set_group(group)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None, push=False)

    def _set_group(self, group: str | None, push: bool = True) -> None:
        if push:
            self._groups.append(group)
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def current_group(self) -> str | None:
        return self._groups[-1] if self._groups else None


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the DataFrame's own QueryExecution."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_signature(df) -> str:
    """Short hash of the optimized logical plan with expression ids and
    lambda variable names renumbered by first occurrence, so two builds of
    the same query share a signature."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    ids: dict[str, str] = {}
    plan = re.sub(r"\blambda (\w+?_\d+)#", lambda m: "lambda " + ids.setdefault(m.group(1), f"v{len(ids)}") + "#", plan)
    ids = {}
    plan = re.sub(r"#(\d+L?)", lambda m: "#" + ids.setdefault(m.group(1), f"e{len(ids)}"), plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:12]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _patch_everywhere(original, wrapper) -> None:
    """Rebind every `filemap_spark.*` module attribute that is `original`
    (modules import layer functions by name, so each binding is patched)."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("filemap_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points with tracer spans."""
    from filemap_spark import cli, io
    from filemap_spark.operators import text
    from filemap_spark.plans import memo

    def sub_group(suffix: str) -> str | None:
        cur = tracer.current_group()
        return f"{cur.rsplit('.', 1)[0]}.{suffix}" if cur else None

    def wrap(fn, span_name: str, group_suffix: str | None, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            group = sub_group(group_suffix) if group_suffix else None
            with tracer.span(span_name, group=group) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, result)
                return result

        return wrapper

    def memo_after(sp, args, kwargs, result):
        _df, hit = result
        sp["hit"] = bool(hit)
        if not hit:
            warehouse = kwargs.get("warehouse") or os.environ.get("FILEMAP_WAREHOUSE") or memo._DEFAULT_WAREHOUSE
            key = args[1] if len(args) > 1 else kwargs["key"]
            sp["bytes_written"] = dir_bytes(os.path.join(warehouse, key))

    def stage_after(sp, args, kwargs, result):
        sp["kind"] = args[3] if len(args) > 3 else kwargs.get("kind")

    patches = [
        (io.load_table, wrap(io.load_table, "io.load_table", "load")),
        (io.spread_single_split, wrap(io.spread_single_split, "io.spread_single_split", "spread")),
        (memo.cached_by_key, wrap(memo.cached_by_key, "lookup", None, memo_after)),
        (cli.run_stage, wrap(cli.run_stage, "stage", "stage", stage_after)),
        (text.incremental_lsh_ingest, wrap(text.incremental_lsh_ingest, "batch", None)),
    ]
    for original, wrapper in patches:
        _patch_everywhere(original, wrapper)
