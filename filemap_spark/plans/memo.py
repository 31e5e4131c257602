"""Dataset memoization — filemap's signature feature re-expressed for Spark
(SURVEY §4.1/§4.3.1).

The reference caches every dataset-directory output keyed by
(input files, command) and re-executes only work whose inputs or command
changed — "make for map-reduce" [K]. Catalyst has no cross-session result
cache, so this layer provides one: a content-addressed parquet warehouse
keyed by sha256(canonical optimized plan + input-file fingerprints).

- The plan string comes from Catalyst's OPTIMIZED logical plan, so two
  syntactically different but plan-equivalent queries share a cache entry.
- Input fingerprints are (path, size, mtime_ns) of every file under the
  registered input paths — touching an input invalidates, exactly like the
  reference's make-semantics.
- Materialization is a plain parquet write: on a cluster the warehouse is
  any shared path (HDFS/S3); hits replace the whole subtree with a scan,
  which also restores predicate pushdown over the cached result.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from filemap_spark.io import read_parquet

_DEFAULT_WAREHOUSE = os.path.join(tempfile.gettempdir(), "filemap_warehouse")


def _input_fingerprint(paths: Iterable[str]) -> str:
    parts: list[str] = []
    for root in sorted(paths):
        if os.path.isfile(root):
            st = os.stat(root)
            parts.append(f"{root}:{st.st_size}:{st.st_mtime_ns}")
            continue
        for dirpath, _dirnames, filenames in sorted(os.walk(root)):
            for fname in sorted(filenames):
                fpath = os.path.join(dirpath, fname)
                st = os.stat(fpath)
                parts.append(f"{fpath}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def plan_key(df: DataFrame, input_paths: Iterable[str]) -> str:
    """Content address = sha256(canonical optimized plan ⊕ input fingerprints).

    Catalyst allocates fresh expression IDs (`col#123`) per plan
    construction, so raw plan strings never collide across sessions. The
    IDs are canonically RENUMBERED (first occurrence → e0, e1, ...), not
    erased: erasing would merge two plans that differ only in *which*
    same-named column they reference (e.g. the left vs right copy in a
    self-join), silently returning the wrong cached result. Renumbering
    keeps plan-equivalent queries on one key while distinct column
    references stay distinguishable.

    Higher-order-function lambda variables need the same treatment:
    `NamedLambdaVariable` prints as `lambda x_N#id` where N comes from a
    session-global JVM counter, so `transform(arr, x -> ...)` yields
    `lambda x_1#4` on one build and `lambda x_3#8` on the next. The `#id`
    suffix is covered by the exprId pass; the `x_N` NAME is renumbered
    here by first occurrence (v0, v1, ...), keeping distinct variables in
    one plan distinct (nested lambdas) while two builds of the same query
    share a key. Every occurrence of the variable — declaration and body —
    prints with the `lambda ` prefix, so the anchored rewrite is total.
    """
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lams: dict[str, str] = {}
    plan = re.sub(
        r"\blambda (\w+?_\d+)#",
        lambda m: "lambda " + lams.setdefault(m.group(1), f"v{len(lams)}") + "#",
        plan,
    )
    ids: dict[str, str] = {}
    plan = re.sub(
        r"#(\d+L?)", lambda m: "#" + ids.setdefault(m.group(1), f"e{len(ids)}"), plan
    )
    digest = hashlib.sha256()
    digest.update(plan.encode())
    digest.update(b"\x00")
    digest.update(_input_fingerprint(input_paths).encode())
    return digest.hexdigest()


def cached_by_key(
    spark: SparkSession,
    key: str,
    build: "callable",
    warehouse: str | None = None,
) -> tuple[DataFrame, bool]:
    """Key-first memoization core. Returns (result_df, was_hit).

    `build` is a zero-arg callable producing the DataFrame to materialize
    — it is invoked ONLY on a miss, so a hit never constructs (or eagerly
    materializes — e.g. localCheckpoint inside an op builder) the plan.

    Hit: return a scan over warehouse/<key>, refreshing LRU recency.
    Miss: materialize build() to warehouse/<key> and return a scan.
    """
    warehouse = warehouse or os.environ.get("FILEMAP_WAREHOUSE", _DEFAULT_WAREHOUSE)
    out = os.path.join(warehouse, key)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        # LRU touch: eviction orders entries by marker mtime, so a hit
        # must refresh it or a hot entry ages out under a cold one.
        hit = True
        try:
            os.utime(marker)
        except OSError:
            # concurrent eviction won the race — the entry may be gone.
            # Re-check and, if so, fall through to the miss path instead
            # of returning a scan over a deleted directory.
            hit = os.path.exists(marker)
        if hit:
            return read_parquet(spark, out), True
    # Materialize to a temp dir and atomically rename into place: writing the
    # final path directly with overwrite races concurrent sessions sharing a
    # warehouse (overwrite deletes _SUCCESS mid-flight under a reader that
    # just passed the marker check). rename() failing means another writer
    # won — their result is byte-equivalent by construction of the key.
    import shutil

    df = build()
    os.makedirs(warehouse, exist_ok=True)
    staging = tempfile.mkdtemp(dir=warehouse, prefix=f".{key[:16]}.tmp.")
    tmp_out = os.path.join(staging, "data")
    try:
        df.write.parquet(tmp_out)
        if os.path.isdir(out) and not os.path.exists(marker):
            # leftover from a writer that died mid-materialization — the
            # marker is the commit point, so an unmarked dir is garbage
            shutil.rmtree(out, ignore_errors=True)
        try:
            os.rename(tmp_out, out)
        except OSError:
            if not os.path.exists(marker):
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    max_bytes = os.environ.get("FILEMAP_WAREHOUSE_MAX_BYTES")
    if max_bytes:
        evict_lru(warehouse, int(max_bytes))
    return read_parquet(spark, out), False


def cached(
    spark: SparkSession,
    df: DataFrame,
    input_paths: Iterable[str],
    warehouse: str | None = None,
) -> tuple[DataFrame, bool]:
    """Memoize df's result under its canonical-plan key. Returns
    (result_df, was_hit). Miss: materialize to warehouse/<key> and return
    a scan over it. Hit: return the scan without touching the computation.
    """
    return cached_by_key(
        spark, plan_key(df, input_paths), lambda: df, warehouse=warehouse
    )


def _entry_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for fname in filenames:
            try:
                total += os.stat(os.path.join(dirpath, fname)).st_size
            except OSError:
                pass
    return total


def warehouse_entries(warehouse: str | None = None) -> list[dict]:
    """Committed warehouse entries, LRU-first (oldest marker mtime first).

    Only dirs carrying a `_SUCCESS` marker count — staging dirs and
    crashed half-writes are invisible here exactly as they are to
    `cached()`'s hit check.
    """
    warehouse = warehouse or os.environ.get("FILEMAP_WAREHOUSE", _DEFAULT_WAREHOUSE)
    entries: list[dict] = []
    if not os.path.isdir(warehouse):
        return entries
    for name in os.listdir(warehouse):
        path = os.path.join(warehouse, name)
        marker = os.path.join(path, "_SUCCESS")
        if name.startswith(".") or not os.path.exists(marker):
            continue
        entries.append(
            {
                "key": name,
                "bytes": _entry_bytes(path),
                "mtime": os.stat(marker).st_mtime,
                "files": sum(len(f) for _, _, f in os.walk(path)),
            }
        )
    entries.sort(key=lambda e: e["mtime"])
    return entries


def evict_lru(warehouse: str | None = None, max_bytes: int = 0) -> list[str]:
    """Delete least-recently-USED entries until the warehouse fits
    `max_bytes`. Returns the evicted keys.

    - "Used" = marker mtime; `cached()` touches the marker on every hit.
    - The single most-recent entry is never evicted, so the result just
      materialized survives even when it alone exceeds the bound.
    - Deletion renames the entry to a dot-prefixed trash dir first (one
      atomic rename — concurrent `cached()` hit checks see the entry
      either fully present or gone, never half-deleted), then removes it.
    - Eviction can still race a reader that PASSED the marker check but
      has not collected yet (Spark reads are lazy). In a shared
      warehouse, run eviction from one maintenance cron, not inline in
      every session — the inline env-var path is meant for single-session
      local use.
    """
    import shutil

    warehouse = warehouse or os.environ.get("FILEMAP_WAREHOUSE", _DEFAULT_WAREHOUSE)
    entries = warehouse_entries(warehouse)
    total = sum(e["bytes"] for e in entries)
    evicted: list[str] = []
    for entry in entries[:-1]:  # newest always survives
        if total <= max_bytes:
            break
        path = os.path.join(warehouse, entry["key"])
        trash = os.path.join(warehouse, "." + entry["key"] + ".evicting")
        try:
            os.rename(path, trash)
        except OSError:
            continue  # concurrent evictor/invalidator won
        shutil.rmtree(trash, ignore_errors=True)
        total -= entry["bytes"]
        evicted.append(entry["key"])
    return evicted


def invalidate(warehouse: str | None = None, prefix: str | None = None) -> int:
    """Drop committed entries whose key starts with `prefix` (all when
    None). Returns the number dropped. Same rename-then-delete discipline
    as eviction."""
    import shutil

    warehouse = warehouse or os.environ.get("FILEMAP_WAREHOUSE", _DEFAULT_WAREHOUSE)
    dropped = 0
    for entry in warehouse_entries(warehouse):
        if prefix and not entry["key"].startswith(prefix):
            continue
        path = os.path.join(warehouse, entry["key"])
        trash = os.path.join(warehouse, "." + entry["key"] + ".evicting")
        try:
            os.rename(path, trash)
        except OSError:
            continue
        shutil.rmtree(trash, ignore_errors=True)
        dropped += 1
    return dropped


# Bump to mass-invalidate persistent warehouses on a semantic change the
# source fingerprint cannot see (e.g. a helper moved outside the
# filemap_spark/functions/* closure folded in below).
_CACHE_VERSION = "3"


def _helper_sources() -> list[str]:
    """Sources of every filemap_spark/functions/* module, sorted by file
    name (ADVICE r13): ops call semantic helpers that live outside their
    own module (functions/blocked.py's candidate joins, functions/jpeg.py's
    codecs), so those files are part of every memoized command's closure —
    invisible to the op-module source alone. Folding them into the
    fingerprint trades coarser invalidation (any helper edit re-keys every
    memoized op) for a closed correctness edge, the same trade the
    op-module fold already made. Returns [] when sources are unreadable
    (zip/frozen installs) — those installs fall back to the same
    bytecode-level guarantees as the op fingerprint itself."""
    func_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "functions",
    )
    out: list[str] = []
    try:
        names = sorted(os.listdir(func_dir))
    except OSError:
        return out
    for name in names:
        if not name.endswith(".py"):
            continue
        try:
            with open(os.path.join(func_dir, name), encoding="utf-8") as fh:
                out.append(fh.read())
        except (OSError, UnicodeDecodeError):
            continue
    return out


def _const_token(const) -> str:
    """Cross-process-stable token for one code-object constant. repr()
    alone is NOT stable for two cases: nested code objects embed a memory
    address, and frozensets (set-literal membership tests compile to
    frozenset consts) iterate in PYTHONHASHSEED-dependent order — both
    would re-key the warehouse every process."""
    if hasattr(const, "co_code"):
        return _code_fingerprint(const)
    if isinstance(const, frozenset):
        return "frozenset{" + ",".join(sorted(map(repr, const))) + "}"
    if isinstance(const, tuple):
        return "(" + ",".join(_const_token(c) for c in const) + ")"
    return repr(const)


def _code_fingerprint(code) -> str:
    """Deterministic fingerprint of a compiled code object: bytecode +
    names + consts, recursing into nested code objects, with
    hash-order-dependent consts canonicalized (see _const_token)."""
    parts = [code.co_code.hex(), repr(code.co_names), repr(code.co_varnames)]
    parts += [_const_token(c) for c in code.co_consts]
    return hashlib.sha256("\x01".join(parts).encode()).hexdigest()


def _fn_fingerprint(fn) -> str:
    """Code-version token for the make edge 'command changed' (ADVICE r12
    medium): the source of the op's whole MODULE, not just the op
    function — memoized ops call module-shared helpers (_tokens,
    _unigram_scored) and read module constants (_PARA_TOKENS), so a
    semantic edit to one must invalidate dependent cache entries even in
    a persistent warehouse, without anyone remembering to run
    `filemap memo rm`. The trade is coarser invalidation (any edit to the
    module re-keys every memoized op in it) for a closed correctness
    edge — the right side of that trade: the reference re-runs whenever
    the COMMAND changes, and the module is the command's closure here.

    When source is unavailable (zip/frozen installs, ADVICE r12 low) the
    fallback is the function's compiled bytecode + consts — never the
    bare qualname, which would let two different code versions share a
    warehouse key."""
    import inspect

    parts = [_CACHE_VERSION]
    try:
        # the module's source FILE, not inspect.getmodule(): module objects
        # loaded via importlib specs aren't always in sys.modules, and the
        # file read needs no linecache (which serves stale lines after an
        # in-place rewrite)
        srcfile = inspect.getsourcefile(fn)
        if srcfile and os.path.isfile(srcfile):
            with open(srcfile, encoding="utf-8") as fh:
                parts.append(fh.read())
        else:
            parts.append(inspect.getsource(fn))
    except (OSError, TypeError, UnicodeDecodeError):
        code = getattr(fn, "__code__", None)
        if code is not None:
            parts.append(_code_fingerprint(code))
        else:  # builtin/C-implemented — identity is all there is
            parts.append(getattr(fn, "__qualname__", repr(fn)))
    # cross-module helper closure (ADVICE r13) — see _helper_sources
    parts.extend(_helper_sources())
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()


def artifact_key(tag: str, fn, input_paths: Iterable[str]) -> str:
    """Content address for a small derived ARTIFACT (learned BPE merges,
    fitted codebooks, persisted index state): sha256(tag ⊕ producing
    function's code closure ⊕ input fingerprints) — the same make edge
    `memoized_query` keys whole ops by, exposed for ops that cache an
    INTERNAL state table rather than their final output (VERDICT r14
    task 4; the dedup_incremental_lsh persisted-ledger precedent).

    The code closure is `_fn_fingerprint(fn)` — the producing function's
    whole module source plus every functions/* helper — so editing the
    trainer (or any kernel it could call) re-keys the artifact; touching
    any byte of an input file re-keys it too. `tag` namespaces artifacts
    that share a producer and inputs but differ in role."""
    digest = hashlib.sha256()
    digest.update(f"artifact:{tag}".encode())
    digest.update(b"\x00")
    digest.update(_fn_fingerprint(fn).encode())
    digest.update(b"\x00")
    digest.update(_input_fingerprint(input_paths).encode())
    return digest.hexdigest()


def memoized_query(fn, tables: tuple[str, ...]):
    """Wrap a registry query `(spark, sf_dir) -> DataFrame` in the
    warehouse (filemap's make-semantics applied to a whole graded op).

    The key is make-style — sha256(op identity ⊕ op-module source hash ⊕ input
    fingerprints) — NOT the Catalyst plan, deliberately:
    - it mirrors the reference's (inputs, command) fingerprint exactly:
      the "command" is the op's code, inputs are its declared tables [K];
    - it is computable WITHOUT building the plan, so a hit skips plan
      construction entirely. Ops that `localCheckpoint` an intermediate
      (dedup_near_jaccard's shingle frame, text_ndcg_eval's tf frame)
      would otherwise eagerly materialize their heaviest subplan on every
      HIT — and that checkpointed subplan prints as an opaque LogicalRDD
      node, so a plan-string key would also miss code changes under it;
    - the source hash closes the 'command changed' edge the LogicalRDD
      hole would open: rewriting the op re-keys it.

    The memoized result is a FINAL query output, so it is written as one
    file (`coalesce(1)`): Spark orders read partitions by file-split
    offset, which makes the hit-path collect order identical to the
    uncached plan's — an op ending in orderBy keeps its ordering through
    the cache. Query results are small (top-k/report-shaped) by
    construction; the generic `cached()` stays multi-file for large
    intermediates.

    Input fingerprints cover exactly the declared source tables, so
    touching any byte of an input re-runs the op (and ONLY ops reading
    that table) — the make edge filemap users expect [K].
    """
    import functools

    code_fp = _fn_fingerprint(fn)

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        inputs = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
        digest = hashlib.sha256()
        digest.update(f"op:{fn.__module__}.{fn.__qualname__}".encode())
        digest.update(b"\x00")
        digest.update(code_fp.encode())
        digest.update(b"\x00")
        digest.update(_input_fingerprint(inputs).encode())
        result, _hit = cached_by_key(
            spark, digest.hexdigest(), lambda: fn(spark, sf_dir).coalesce(1)
        )
        return result

    wrapped.__filemap_memo_tables__ = tables
    return wrapped
