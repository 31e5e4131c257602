"""`fm`-style command-line interface — the reference's user-facing surface
(SURVEY §3.1 [K]: one `fm` entry point running shell map/reduce pipelines
over directories of text files), re-expressed on Spark.

    python -m filemap_spark map  INPUT OUTPUT --cmd "grep foo"
    python -m filemap_spark mapreduce INPUT OUTPUT \
        --cmd "tr ' ' '\\n'" --reduce "sort | uniq -c" [--buckets 32]
    python -m filemap_spark pipeline INPUT OUTPUT \
        --cmd "tr ' ' '\\n'" --reduce "sort | uniq -c" --cmd "grep -v '^1 '"
    python -m filemap_spark query SF_DIR "SELECT ..."   # SQL over views
    python -m filemap_spark dedup SF_DIR OUTPUT --method near  # clean corpus
    python -m filemap_spark dedup SF_DIR OUTPUT --method substring
        # cut duplicated >=50-token spans out of every doc (ExactSubstr)
    python -m filemap_spark quality SF_DIR OUTPUT [--clean-lines] \
        [--gate learned|dsir|kn] [--scores-out DIR]  # rule gate, the
        # trained NB tier, the DSIR importance gate, or the KN
        # perplexity-median gate; --scores-out exports the per-doc
        # verdict frame (OUTPUT='-' = scores only, no kept corpus)
    python -m filemap_spark decontam SF_DIR OUTPUT --eval-dir BENCH \
        [--max-frac F] [--report-out DIR]  # drop docs sharing a
        # 13-gram with the benchmark corpus (text_contamination_ngram)

Semantics preserved from the reference:
- dataset = a directory (or glob) of text files; `.gz` handled transparently
  by Spark's text source, like filemap's transparent decompression;
- map = a shell pipeline, lines in → lines out, forked once per partition
  (filemap forks per file; `--partitions` recovers per-file granularity);
- reduce = shuffle records by their leading whitespace-delimited field into
  hash buckets, then one shell pipeline per bucket;
- memoization: with `--memo`, a run whose (inputs, commands) fingerprint
  already produced OUTPUT is skipped — filemap's make-like rule. The
  fingerprint covers input file names/sizes/mtimes and both command
  strings.
- pipelines: the `pipeline` verb chains ANY number of --cmd / --reduce
  stages in the order given on the command line (filemap's multi-stage
  dataset DAG). Each stage materializes its own dataset directory
  (OUTPUT/stage00, stage01, ... and OUTPUT/final) and carries its own memo
  fingerprint (that stage's input files + command), so with `--memo` a
  re-run recomputes ONLY the stages whose inputs or command changed —
  make-semantics per stage, exactly the reference's cached-dataset chain.
- incremental: with `--stream`, the input is consumed through a
  Structured-Streaming file source with `trigger(availableNow=True)` —
  re-running after new files appear processes ONLY the new files
  (checkpoint kept inside OUTPUT/_checkpoint), filemap's incremental model.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F


def _fingerprint(input_path: str, cmds: list[str]) -> str:
    h = hashlib.sha256()
    for c in cmds:
        h.update(c.encode())
    import glob as globmod

    paths = sorted(globmod.glob(input_path)) or [input_path]
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.exists(p):
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _memo_hit(output: str, fp: str) -> bool:
    marker = os.path.join(output, "_filemap_memo.json")
    if not os.path.exists(marker):
        return False
    try:
        return json.load(open(marker)).get("fingerprint") == fp
    except Exception:
        return False


def _write_memo(output: str, fp: str) -> None:
    marker = os.path.join(output, "_filemap_memo.json")
    with open(marker, "w") as f:
        json.dump({"fingerprint": fp}, f)


def _shell(cmd: str) -> str:
    # RDD.pipe shlex-tokenizes and execs without a shell; wrap so pipes,
    # redirects, and quoting behave exactly as in the reference.
    return "sh -c " + _sq(cmd)


def _sq(s: str) -> str:
    return "'" + s.replace("'", "'\\''") + "'"


def run_map(
    spark: SparkSession,
    input_path: str,
    output: str,
    cmd: str,
    reduce_cmd: str | None = None,
    buckets: int = 32,
    partitions: int | None = None,
) -> int:
    """Execute map [+ reduce] shell stages; returns output line count."""
    lines = spark.read.text(input_path).rdd.map(lambda r: r[0])
    if partitions:
        lines = lines.repartition(partitions)
    mapped = lines.pipe(_shell(cmd))
    if reduce_cmd is not None:
        keyed = mapped.map(lambda line: (line.split(" ", 1)[0], line))
        mapped = keyed.partitionBy(buckets).values().pipe(_shell(reduce_cmd))
    # Explicit schema: toDF() infers from data and raises on an EMPTY rdd
    # (a map command emitting no lines, e.g. grep with no matches) — an
    # empty pipeline must still write an empty output dataset.
    out_df = spark.createDataFrame(mapped.map(lambda line: Row(value=line)), "value string")
    out_df.write.mode("overwrite").text(output)
    return spark.read.text(output).count()


def run_stage(
    spark: SparkSession,
    input_path: str,
    output: str,
    kind: str,
    cmd: str,
    buckets: int = 32,
    partitions: int | None = None,
) -> int:
    """One pipeline stage: `map` pipes every partition's lines through the
    shell command; `reduce` first shuffles lines into hash buckets by their
    leading whitespace-delimited field, then pipes each bucket."""
    lines = spark.read.text(input_path).rdd.map(lambda r: r[0])
    if partitions:
        lines = lines.repartition(partitions)
    if kind == "reduce":
        keyed = lines.map(lambda line: (line.split(" ", 1)[0], line))
        lines = keyed.partitionBy(buckets).values()
    piped = lines.pipe(_shell(cmd))
    out_df = spark.createDataFrame(piped.map(lambda line: Row(value=line)), "value string")
    out_df.write.mode("overwrite").text(output)
    return spark.read.text(output).count()


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output: str,
    stages: list[tuple[str, str]],
    buckets: int = 32,
    partitions: int | None = None,
    memo: bool = False,
) -> int:
    """Chain (kind, cmd) stages through per-stage dataset directories.

    Stage i reads stage i-1's directory (stage 0 reads INPUT) and writes
    OUTPUT/stage{i:02d}; the last stage writes OUTPUT/final. With `memo`,
    each stage is skipped when its own (input files, command) fingerprint
    matches the marker in its directory — and because the fingerprint
    covers the PREVIOUS stage's output files, invalidation cascades
    downstream exactly like make: touch the input or edit stage 2's
    command and stages 2..n rerun while 0..1 are reused."""
    if not stages:
        raise ValueError("pipeline needs at least one --cmd/--reduce stage")
    cur = input_path
    n = 0
    for i, (kind, cmd) in enumerate(stages):
        is_last = i == len(stages) - 1
        stage_out = os.path.join(output, "final" if is_last else f"stage{i:02d}")
        fp = _fingerprint(cur, [f"{kind}\x00{cmd}"])
        if memo and _memo_hit(stage_out, fp):
            print(f"memo hit: stage {i} ({kind}) up to date", file=sys.stderr)
            n = spark.read.text(stage_out).count()
        else:
            n = run_stage(
                spark, cur, stage_out, kind, cmd, buckets=buckets, partitions=partitions
            )
            if memo:
                _write_memo(stage_out, fp)
        cur = stage_out
    return n


def run_map_stream(
    spark: SparkSession, input_path: str, output: str, cmd: str
) -> int:
    """Incremental map over a directory: only files not yet recorded in the
    checkpoint's file-source log are processed (availableNow drain)."""
    checkpoint = os.path.join(output, "_checkpoint")
    stream = spark.readStream.format("text").load(input_path)
    piped = stream.select(F.col("value"))

    def sink(batch_df, _batch_id):
        new = batch_df.rdd.map(lambda r: r[0]).pipe(_shell(cmd))
        if not new.isEmpty():
            new.map(lambda line: Row(value=line)).toDF().write.mode("append").text(
                os.path.join(output, "data")
            )

    q = (
        piped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_dir = os.path.join(output, "data")
    if not os.path.exists(data_dir):
        return 0
    return spark.read.text(data_dir).count()


def run_query(
    spark, sf_dir: str, sql: str, output: str | None = None, limit: int = 100
) -> int:
    """SQL entry point over the registered contract-table views (SURVEY
    §3.2 entry point (2)): every table in sf_dir becomes a temp view and
    the query plans through the same Catalyst path as the DataFrame ops.
    Prints up to `limit` rows as TSV, or writes the full result to parquet
    when `output` is given (dataset-out, so results chain into further
    runs)."""
    from filemap_spark.io import register_views

    register_views(spark, sf_dir)
    df = spark.sql(sql)
    if output:
        df.write.mode("overwrite").parquet(output)
        return spark.read.parquet(output).count()
    rows = df.take(limit)
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join("" if v is None else str(v) for v in r))
    return len(rows)


def _mm_hash_fn(modality: str):
    """The decode+hash stage for a perceptual-dedup modality — the same
    stage the graded batch ops and incremental twins run (PNG decode →
    dHash for images, WAV decode → energy-contour hash for audio)."""
    from filemap_spark.operators.multimodal import (
        _audio_fhash_frame,
        _image_dhash_frame,
    )

    return _image_dhash_frame if modality == "image" else _audio_fhash_frame


def _survivors_from_pairs(docs, edges):
    """Min-id survivor rule over a duplicate-pair graph: connected
    components, drop every non-representative member — the
    dedup_materialize_clean rule shared by every dedup path here."""
    from filemap_spark.operators.relational import alternating_star_components

    if not edges.take(1):
        return docs
    labels = alternating_star_components(edges)
    removed = labels.where(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(removed, "doc_id", "left_anti")


def run_dedup(
    spark,
    input_dir: str,
    output: str,
    method: str = "exact",
    modality: str = "text",
) -> tuple[int, int]:
    """Materialize a survivors-only corpus from INPUT/documents.parquet —
    LLM-pipeline dedup as a one-command dataset-in/dataset-out step.
    `exact` keeps the min-doc_id member of each identical-text group (the
    dedup_exact_text survivor rule); `near` runs the shingle Jaccard>=0.8
    pair graph through connected components and keeps each component's min
    member (dedup_materialize_clean's rule); `substring` (round 17)
    keeps EVERY doc but cuts the duplicated ≥50-token spans out of its
    text — the Lee et al. ExactSubstr APPLICATION step over
    `dedup_exact_substring`'s per-doc mask, removing every occurrence
    (the dedup_line_level "deleted everywhere" precedent: a doc whose
    whole text was duplicated survives with empty text, like the
    all-boilerplate line case); the cut runs JVM-side per doc — the
    collected span list joins back doc-keyed and one filter/zip_with
    expression drops covered positions, no token explode, no shuffle
    beyond the graded op's own. `--modality image|audio`
    (round 15, VERDICT r14 task 7) swaps the pair generator for the
    perceptual fingerprint path the graded mm ops run — real PNG/WAV
    decode → 64-bit dHash / energy-contour hash → block-pigeonhole
    candidate join — with the same min-id survivor rule; `method` is moot
    there (perceptual pairs subsume exact byte dups: identical media share
    a fingerprint). The output directory gets `documents.parquet`, so it
    is itself a valid corpus dir — dedup output feeds straight into any
    other verb or operator."""
    from pyspark.sql.window import Window

    from filemap_spark.io import load_table

    docs = load_table(spark, input_dir, "documents")
    n_total = docs.count()
    if modality != "text":
        from filemap_spark.functions.blocked import (
            CORPUS_MATCHED_KNOB,
            fingerprint_near_dup_pairs,
        )

        hashes = (
            _mm_hash_fn(modality)(docs.select("doc_id", "text"))
            .withColumnRenamed("fp", "h")
            .localCheckpoint()
        )
        nb, bb, t = CORPUS_MATCHED_KNOB
        pairs = fingerprint_near_dup_pairs(
            hashes, id_col="doc_id", hash_col="h",
            n_blocks=nb, block_bits=bb, threshold=t,
        )
        clean = _survivors_from_pairs(
            docs,
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
        )
    elif method == "exact":
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        clean = (
            docs.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
        )
    elif method == "substring":
        from filemap_spark.operators.text import dedup_exact_substring

        cuts = (
            dedup_exact_substring(spark, input_dir)
            .groupBy("doc_id")
            .agg(
                F.collect_list(
                    F.struct("span_start", "span_end")
                ).alias("cuts")
            )
        )
        kept_words = F.expr(
            "transform(filter("
            " zip_with(split(text, ' '),"
            "          sequence(1, size(split(text, ' '))),"
            "          (w, i) -> struct(w as w, i as i)),"
            " x -> cuts is null or not exists(cuts,"
            "      c -> x.i >= c.span_start and x.i <= c.span_end)),"
            " x -> x.w)"
        )
        clean = (
            docs.join(cuts, "doc_id", "left")
            .withColumn("text", F.array_join(kept_words, " "))
            .select(
                "doc_id",
                "text",
                "lang",
                "source",
                F.length("text").cast("bigint").alias("n_chars"),
            )
        )
    else:
        from filemap_spark.operators.relational import _jaccard_cc_labels

        labels = _jaccard_cc_labels(spark, input_dir)
        survivors = labels.where(F.col("component") == F.col("doc_id")).select(
            "doc_id"
        )
        clean = docs.join(survivors, "doc_id")
    out = os.path.join(output, "documents.parquet")
    clean.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count(), n_total


def run_dedup_stream(
    spark,
    input_dir: str,
    output: str,
    threshold: float = 0.8,
    modality: str = "text",
) -> tuple[int, int]:
    """Incremental near-dedup over a GROWING corpus directory — the
    persisted-index paths wired to a Structured-Streaming parquet file
    source, filemap's new-files-only model end-to-end:

      - the file-source checkpoint (OUTPUT/_checkpoint) hands each run
        ONLY the parquet files that appeared since the last run;
      - `text` (default): each micro-batch ingests into the persisted
        LSH index under OUTPUT/_lsh_state
        (operators/text.py:incremental_lsh_ingest) — unseen docs are
        shingled/minhashed/banded once, the existing corpus contributes
        through the index, never re-read;
      - `image` / `audio` (round 15, VERDICT r14 task 7): each
        micro-batch ingests into the persisted fingerprint ledger under
        OUTPUT/_fp_state (functions/blocked.py:
        incremental_fingerprint_ingest) — the anti-join on seen doc_ids
        runs BEFORE the decode stage, so each run decodes+hashes only
        its delta (PNG→dHash / WAV→energy hash), and the batch's
        fingerprints pigeonhole-probe the persisted index;
      - verified duplicate pairs accumulate in OUTPUT/_pairs;
      - the survivors-only corpus is rebuilt from ledger + accumulated
        pairs via connected components (min-id survivor — the same rule
        as `dedup --method near`), written to OUTPUT/documents.parquet so
        the output chains as a corpus dir.

    Returns (kept, total-ingested). Re-running with no new files is a
    cheap no-op drain. tests/test_cli.py pins: two-batch arrival, the
    second run touching only batch-2 docs, and the final corpus matching
    a from-scratch batch dedup of the union — for text AND the
    perceptual modalities."""
    from filemap_spark.io import read_parquet
    from filemap_spark.operators.text import (
        _recover_compact_swap,
        incremental_lsh_ingest,
    )

    if modality == "text":
        state_dir = os.path.join(output, "_lsh_state")
        ledger_name = "ingested.parquet"
    else:
        state_dir = os.path.join(output, "_fp_state")
        ledger_name = "fingerprints.parquet"
    pairs_dir = os.path.join(output, "_pairs")
    checkpoint = os.path.join(output, "_checkpoint")
    # heal a crashed _pairs compaction BEFORE the stream can append: a
    # fresh append into a missing _pairs would otherwise recreate the dir
    # and the post-drain recovery would then delete .compact_old — i.e.
    # every historical pair (review finding, round 10; the three state
    # tables get the same healing inside incremental_lsh_ingest itself)
    _recover_compact_swap(pairs_dir)
    schema = read_parquet(spark, input_dir).schema

    if modality == "text":

        def sink(batch_df, _batch_id):
            pairs = incremental_lsh_ingest(
                spark, batch_df, state_dir, threshold=threshold
            )
            pairs.write.mode("append").parquet(pairs_dir)

    else:
        from filemap_spark.functions.blocked import (
            CORPUS_MATCHED_KNOB,
            incremental_fingerprint_ingest,
        )

        hash_fn = _mm_hash_fn(modality)
        nb, bb, t = CORPUS_MATCHED_KNOB

        def sink(batch_df, _batch_id):
            pairs = incremental_fingerprint_ingest(
                spark, batch_df.select("doc_id", "text"), hash_fn,
                state_dir, n_blocks=nb, block_bits=bb, threshold=t,
            )
            pairs.select("doc_a", "doc_b").write.mode("append").parquet(
                pairs_dir
            )

    q = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # post-drain compaction (round 10): each micro-batch APPENDS a file
    # set per state table AND to the accumulated-pairs dir, so a
    # long-running arrival loop otherwise collects unbounded small files
    # the next run's probes and pair re-reads pay for; the hysteresis in
    # compact_parquet_dir keeps this from rewriting the full state on
    # every drain
    from filemap_spark.operators.text import (
        compact_lsh_state,
        compact_parquet_dir,
    )

    if modality == "text":
        compact_lsh_state(spark, state_dir)
    elif os.path.isdir(os.path.join(state_dir, ledger_name)):
        # the fingerprint ledger is one append-only parquet dir; same
        # small-file hygiene, same hysteresis
        compact_parquet_dir(spark, os.path.join(state_dir, ledger_name))
    if os.path.isdir(pairs_dir):
        compact_parquet_dir(spark, pairs_dir)

    ledger_path = os.path.join(state_dir, ledger_name)
    if not os.path.exists(ledger_path):  # empty input dir, nothing ingested
        return 0, 0
    n_total = spark.read.parquet(ledger_path).count()
    edges = spark.read.parquet(pairs_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = read_parquet(spark, input_dir)
    clean = _survivors_from_pairs(docs, edges)
    out = os.path.join(output, "documents.parquet")
    clean.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count(), n_total


# The 22 canonical TPC-H query shapes → registry ids (corpus-adapted
# forms; see each op's docstring for what was reshaped and why).
TPCH_QUERIES = {
    "q1": "agg_pricing_summary",
    "q2": "join_min_cost_supplier_q2",
    "q3": "join_shipping_priority_q3",
    "q4": "subq_exists_late_q4",
    "q5": "join_snowflake_q5",
    "q6": "agg_revenue_band_q6",
    "q7": "join_nation_volume_q7",
    "q8": "agg_market_share_q8",
    "q9": "agg_profit_by_nation_q9",
    "q10": "join_returned_rev_q10",
    "q11": "subq_value_concentration_q11",
    "q12": "join_late_shipment_q12",
    "q13": "join_custdist_q13",
    "q14": "agg_promo_share_q14",
    "q15": "subq_top_supplier_q15",
    "q16": "agg_supplier_variety_q16",
    "q17": "subq_small_qty_q17",
    "q18": "join_top_orders_q18",
    "q19": "agg_disjunctive_revenue_q19",
    "q20": "subq_excess_share_q20",
    "q21": "join_sole_late_shipper_q21",
    "q22": "subq_idle_customers_q22",
}


def run_tpch(
    spark, sf_dir: str, which: list[str] | None = None, output: str | None = None
) -> list[tuple[str, str, int, float]]:
    """Run the TPC-H parity suite (all 22 shapes, or a subset) against the
    contract tables in `sf_dir`. Returns (qid, registry id, rows, secs)
    per query; with `output`, each result also lands as
    OUTPUT/<qid>.parquet (the production sink path — results are written,
    not collected, so driver memory stays O(1) regardless of result
    size)."""
    import time as _time

    from filemap_spark.registry import all_queries

    queries = all_queries()
    rows_out: list[tuple[str, str, int, float]] = []
    for qid in which or sorted(TPCH_QUERIES, key=lambda q: int(q[1:])):
        name = TPCH_QUERIES[qid]
        t0 = _time.time()
        df = queries[name](spark, sf_dir)
        if output:
            df.write.mode("overwrite").parquet(os.path.join(output, qid + ".parquet"))
            n = spark.read.parquet(os.path.join(output, qid + ".parquet")).count()
        else:
            n = df.count()
        rows_out.append((qid, name, n, round(_time.time() - t0, 3)))
    return rows_out


def run_stats(spark, input_dir: str) -> dict[str, float]:
    """Corpus-health report (round 5) — the numbers a curation run prints
    first, over any corpus dir with documents.parquet (including the
    output of `dedup`): doc/token counts, language/source spread, exact
    near-dup pressure (docs sharing an md5(text)), and the Gini
    concentration of doc lengths (few huge docs dominating the token
    budget). Composes the same primitives as the graded operators."""
    from filemap_spark.io import load_table

    docs = load_table(spark, input_dir, "documents")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    ).collect()[0]
    dup_docs = (
        docs.groupBy(F.md5("text"))
        .count()
        .where(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("d"))
        .collect()[0]["d"]
    )
    from filemap_spark.functions.ranks import release_rank_cache, with_global_rank

    ranked = with_global_rank(
        docs.select("doc_id", "n_chars"), "n_chars", "doc_id",
        rank_col="rk", total_col="n",
    )
    g = ranked.agg(
        F.round(
            (
                2 * F.sum(F.col("rk") * F.col("n_chars"))
                - (F.max("n") + 1) * F.sum("n_chars")
            ).cast("double")
            / (F.max("n") * F.sum("n_chars")).cast("double"),
            6,
        ).alias("gini")
    ).collect()[0]["gini"]
    release_rank_cache()
    return {
        "n_docs": int(base["n_docs"]),
        "n_tokens": int(base["n_tokens"]),
        "n_langs": int(base["n_langs"]),
        "n_sources": int(base["n_sources"]),
        "n_docs_in_exact_dup_groups": int(dup_docs),
        "length_gini": float(g),
    }


def run_compact(
    spark,
    input_dir: str,
    output: str,
    sort_key: str,
    target_files: int = 4,
    max_records_per_file: int = 2_000_000,
) -> tuple[int, int, int]:
    """Small-file compaction as a CLI verb (round 5): rewrite a fragmented
    parquet dataset as `target_files` range-clustered files (the
    sink_compact_small_files operator's rewrite, operators/scans.py).
    Returns (files_before, files_after, rows)."""
    import glob as globmod

    from filemap_spark.operators.scans import compact_parquet_dataset

    before = len(globmod.glob(os.path.join(input_dir, "*.parquet")))
    compact_parquet_dataset(
        spark, input_dir, output, sort_key, target_files,
        max_records_per_file=max_records_per_file,
    )
    after = len(globmod.glob(os.path.join(output, "*.parquet")))
    rows = spark.read.parquet(output).count()
    return before, after, rows


def run_quality(
    spark, input_dir: str, output: str, clean_lines: bool = False,
    gate: str = "rules", scores_out: str | None = None,
) -> dict[str, int]:
    """Quality-gate a corpus as a CLI verb (round 5): apply the
    `text_gopher_rules` gate over INPUT/documents.parquet and materialize
    the keepers (all original columns) to OUTPUT/documents.parquet —
    chainable into `dedup`/`stats`/another `quality` run, like every
    corpus-dir verb. With `clean_lines`, cross-corpus duplicated lines are
    first stripped via `dedup_line_level` (text and n_chars rewritten from
    the surviving lines; docs that were ALL boilerplate drop out before
    the gate even sees them). `--gate learned` (round 15, the
    text_quality_classifier tier) swaps the rule conjunction for the
    trained Naive-Bayes verdict — the CCNet-style upgrade path: bootstrap
    labels from the rules, gate on the model — and the audit reports the
    model/rules agreement instead of per-rule drop counts. Composes the
    graded operators; returns the audit the operator reads before
    trusting the gate.

    `--gate dsir` (round 17, VERDICT r16 task 6) gates on
    `text_dsir_importance`'s keep flag (exact-int log importance weight
    > 0: the doc looks more target-like than raw-average); `--gate kn`
    gates on `text_kneser_ney_logprob`'s per-doc mean −ln p at or under
    the corpus MEDIAN (exact percentile — the CCNet perplexity-gate
    shape; docs too short to have a bigram are unscored and dropped,
    counted in the audit).

    `scores_out` (round 16, VERDICT r15 task 7) exports the PER-DOC
    verdict frame as a parquet dataset — the learned gate's
    (doc_id, n_tokens, nb_score, nb_verdict, gopher_verdict, agree), or
    the rule gate's per-rule flag frame — so a curation operator can
    audit scores and model/rules disagreements doc by doc. Pass
    OUTPUT='-' to skip materializing the kept corpus entirely
    (scores-only mode: inspect before you gate)."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import (
        dedup_line_level,
        text_dsir_importance,
        text_gopher_rules,
        text_kneser_ney_logprob,
        text_quality_classifier,
    )

    import shutil
    import tempfile

    docs = load_table(spark, input_dir, "documents")
    n_docs = docs.count()
    lines_removed = 0
    tmp_corpus = None
    try:
        if clean_lines:
            # one execution: checkpoint the (three-shuffle) line-dedup result
            # so the audit sum and the materialization join both read it
            cleaned = dedup_line_level(spark, input_dir).localCheckpoint()
            lines_removed = (
                cleaned.agg(
                    F.coalesce(
                        F.sum(F.col("n_paras") - F.col("n_kept")), F.lit(0)
                    ).alias("d")
                ).collect()[0]["d"]
            )
            docs = (
                docs.join(cleaned.where(F.col("n_kept") > 0), "doc_id")
                .select(
                    "doc_id",
                    F.col("clean_text").alias("text"),
                    "lang",
                    "source",
                    # cast: F.length yields int32; the corpus contract
                    # (FIXTURES.md) declares n_chars int64 — keep chainable
                    # outputs schema-identical to every other verb's
                    F.length("clean_text").cast("bigint").alias("n_chars"),
                )
            )
            # the gate must score the CLEANED text, so re-ingest it as a
            # corpus — under a real temp dir, never inside OUTPUT (a stale
            # _cleaned beside documents.parquet would ship with the corpus)
            tmp_corpus = tempfile.mkdtemp(prefix="filemap_quality_")
            docs.write.mode("overwrite").parquet(
                os.path.join(tmp_corpus, "documents.parquet")
            )
            docs = load_table(spark, tmp_corpus, "documents")
            input_dir = tmp_corpus
        if gate == "learned":
            verdicts = text_quality_classifier(spark, input_dir)
            if scores_out:
                # checkpoint: the scores export, the audit agg, and the
                # keepers join below would otherwise each re-run the
                # train+score plan
                verdicts = verdicts.localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(
                    F.sum(F.when(F.col("nb_verdict") == "keep", 1).otherwise(0)),
                    F.lit(0),
                ).alias("kept"),
                F.coalesce(F.sum("agree"), F.lit(0)).alias("agree"),
            ).collect()[0]
            keepers = verdicts.where(F.col("nb_verdict") == "keep").select(
                "doc_id"
            )
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                "agree_with_rules": int(audit_row["agree"]),
            }
        elif gate == "dsir":
            verdicts = text_dsir_importance(spark, input_dir)
            if scores_out:
                verdicts = verdicts.localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(F.sum("dsir_keep"), F.lit(0)).alias("kept"),
                F.coalesce(
                    F.sum(F.when(F.col("n_feats") == 0, 1).otherwise(0)),
                    F.lit(0),
                ).alias("zero_feat"),
            ).collect()[0]
            keepers = verdicts.where(F.col("dsir_keep") == 1).select("doc_id")
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                "zero_feature_docs": int(audit_row["zero_feat"]),
            }
        elif gate == "kn":
            # one execution: the median threshold and the keep filter both
            # read the scored frame
            verdicts = text_kneser_ney_logprob(spark, input_dir).localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.expr("percentile(avg_neg_logp, 0.5)").alias("med"),
            ).collect()[0]
            med = audit_row["med"]
            keepers = verdicts.where(
                F.col("avg_neg_logp") <= F.lit(med)
            ).select("doc_id")
            kept = keepers.count()
            audit = {
                "scored": audit_row["scored"],
                "kept": kept,
                "unscored_short_docs": n_docs - audit_row["scored"],
                "median_neg_logp": round(float(med), 6) if med is not None else None,
            }
        else:
            verdicts = text_gopher_rules(spark, input_dir)
            if scores_out:
                verdicts = verdicts.localCheckpoint()
            # coalesce every summed counter: over an EMPTY corpus (a prior
            # run kept zero docs, or --clean-lines dropped everything)
            # sum() is NULL
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(
                    F.sum(F.when(F.col("verdict") == "keep", 1).otherwise(0)),
                    F.lit(0),
                ).alias("kept"),
                *[
                    F.coalesce(F.sum(1 - F.col(c)), F.lit(0)).alias(f"fail_{c}")
                    for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop")
                ],
            ).collect()[0]
            keepers = verdicts.where(F.col("verdict") == "keep").select("doc_id")
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                **{
                    f"fail_{c}": int(audit_row[f"fail_{c}"])
                    for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop")
                },
            }
        if scores_out:
            verdicts.write.mode("overwrite").parquet(scores_out)
            audit["scores_rows"] = spark.read.parquet(scores_out).count()
        if output != "-":
            docs.join(keepers, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(os.path.join(output, "documents.parquet"))
    finally:
        if tmp_corpus is not None:
            shutil.rmtree(tmp_corpus, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "lines_removed": int(lines_removed),
        **audit,
    }


def run_decontam(
    spark,
    input_dir: str,
    output: str,
    eval_dir: str,
    max_frac: float = 0.0,
    report_out: str | None = None,
) -> dict[str, int]:
    """Benchmark-decontaminate a training corpus as a CLI verb (round
    16): drop every INPUT/documents.parquet doc sharing a 13-gram with
    ANY doc in EVAL_DIR/documents.parquet — the graded
    `text_contamination_ngram` rule with a real, separate benchmark
    corpus instead of the fixture split. `--max-frac` relaxes the gate
    to "drop only docs whose contaminated 13-gram fraction exceeds F"
    (default 0.0 = one collision drops, the published conservative
    rule); `--report-out` exports the per-contaminated-doc collision
    report as parquet. OUTPUT gets `documents.parquet` with all original
    columns, so it chains into `dedup`/`quality`/`stats` like every
    corpus-dir verb."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import _contam_ngrams, _contam_report

    docs = load_table(spark, input_dir, "documents")
    n_docs = docs.count()
    ws = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).localCheckpoint()
    ev = (
        _contam_ngrams(
            load_table(spark, eval_dir, "documents").select(
                "doc_id", F.split("text", " ").alias("ws")
            )
        )
        .select("ng")
        .distinct()
    )
    # the report is at most contaminated-doc-sized; checkpoint so the
    # optional export, the drop-set derivation, and the audit counts
    # run the probe join once
    report = _contam_report(_contam_ngrams(ws), ev).localCheckpoint()
    if report_out:
        report.orderBy("doc_id").write.mode("overwrite").parquet(report_out)
    dropped = report.where(F.col("contamination_frac") > max_frac).select(
        "doc_id"
    )
    out = os.path.join(output, "documents.parquet")
    docs.join(dropped, "doc_id", "left_anti").write.mode("overwrite").parquet(
        out
    )
    return {
        "n_docs": n_docs,
        "contaminated": report.count(),
        "dropped": dropped.count(),
        "kept": spark.read.parquet(out).count(),
    }


class _StageAction(argparse.Action):
    """Collect repeated --cmd/--reduce flags as an ORDERED stage list."""

    def __call__(self, parser, namespace, values, option_string=None):
        stages = getattr(namespace, "stages", None) or []
        stages.append(("map" if option_string == "--cmd" else "reduce", values))
        namespace.stages = stages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="filemap_spark", description=__doc__)
    sub = ap.add_subparsers(dest="verb", required=True)

    for verb in ("map", "mapreduce"):
        p = sub.add_parser(verb)
        p.add_argument("input")
        p.add_argument("output")
        p.add_argument("--cmd", required=True, help="map shell pipeline")
        if verb == "mapreduce":
            p.add_argument("--reduce", required=True, help="reduce shell pipeline")
            p.add_argument("--buckets", type=int, default=32)
        p.add_argument("--partitions", type=int, default=None)
        p.add_argument("--memo", action="store_true")
        p.add_argument("--stream", action="store_true")

    p = sub.add_parser("pipeline", help="chain --cmd/--reduce stages in CLI order")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--cmd", action=_StageAction, help="append a map stage")
    p.add_argument("--reduce", action=_StageAction, dest="stages", help="append a reduce stage")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--memo", action="store_true")

    p = sub.add_parser("query", help="SQL over the contract-table views in SF_DIR")
    p.add_argument("sf_dir")
    p.add_argument("sql")
    p.add_argument(
        "--output", default=None, help="write result parquet here instead of printing"
    )
    p.add_argument("--limit", type=int, default=100)

    p = sub.add_parser(
        "dedup", help="materialize a survivors-only corpus from INPUT/documents.parquet"
    )
    p.add_argument("input")
    p.add_argument("output")
    # default=None so the dispatch can tell an EXPLICIT --method exact
    # from the default when warning that a non-text modality (or
    # --stream) ignores it (ADVICE r15)
    p.add_argument(
        "--method",
        choices=("exact", "near", "substring"),
        default=None,
        help="exact = whole-doc identical-text survivors; near = Jaccard "
        "component survivors; substring = keep every doc but CUT the "
        "duplicated >=50-token spans out of its text (the Lee et al. "
        "ExactSubstr application step, dedup_exact_substring's mask)",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="incremental near-dedup: INPUT is a growing parquet dir; only "
        "files new since the last run are ingested (persisted LSH index)",
    )
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument(
        "--modality",
        choices=("text", "image", "audio"),
        default="text",
        help="pair generator: text shingle-Jaccard (default), or the "
        "perceptual fingerprint paths (PNG→dHash / WAV→energy hash); "
        "with --stream, image/audio use the persisted fingerprint "
        "ledger (delta-only decode)",
    )

    p = sub.add_parser(
        "stats", help="corpus-health report over INPUT/documents.parquet"
    )
    p.add_argument("input")

    p = sub.add_parser(
        "quality",
        help="Gopher-rule gate INPUT/documents.parquet into a kept corpus",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument(
        "--clean-lines",
        action="store_true",
        help="strip cross-corpus duplicated lines before gating",
    )
    p.add_argument(
        "--gate",
        choices=("rules", "learned", "dsir", "kn"),
        default="rules",
        help="rules = the Gopher conjunction (default); learned = the "
        "trained Naive-Bayes tier (text_quality_classifier); dsir = the "
        "hashed-bigram importance-weight gate (text_dsir_importance, "
        "keep iff log p_target/p_raw > 0); kn = the Kneser-Ney "
        "perplexity gate (text_kneser_ney_logprob, keep iff the doc's "
        "mean -ln p is at or under the corpus median)",
    )
    p.add_argument(
        "--scores-out",
        default=None,
        help="also export the per-doc verdict frame (scores + agreement "
        "for --gate learned, per-rule flags otherwise) as a parquet "
        "dataset here; pass OUTPUT='-' to skip the kept corpus and "
        "export scores only",
    )

    p = sub.add_parser(
        "decontam",
        help="drop INPUT docs sharing a 13-gram with the EVAL benchmark corpus",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument(
        "--eval-dir",
        required=True,
        help="benchmark corpus dir (documents.parquet) to decontaminate against",
    )
    p.add_argument(
        "--max-frac",
        type=float,
        default=0.0,
        help="drop docs whose contaminated 13-gram fraction exceeds this "
        "(default 0.0: any collision drops)",
    )
    p.add_argument(
        "--report-out",
        default=None,
        help="also export the per-contaminated-doc collision report here",
    )

    p = sub.add_parser(
        "tpch",
        help="run the 22-query TPC-H parity suite over the tables in SF_DIR",
    )
    p.add_argument("sf_dir")
    p.add_argument(
        "--query",
        action="append",
        choices=sorted(TPCH_QUERIES, key=lambda q: int(q[1:])),
        help="run only this query (repeatable); default: all 22",
    )
    p.add_argument(
        "--output", default=None, help="write each result as OUTPUT/<qid>.parquet"
    )

    p = sub.add_parser(
        "ops",
        help="list the registered operator catalog (id, check type, semantics)",
    )
    p.add_argument(
        "--family",
        default=None,
        help="filter to one operator module (e.g. text, joins, aggregates)",
    )

    p = sub.add_parser(
        "memo",
        help="inspect or invalidate the content-addressed result warehouse",
    )
    p.add_argument("action", choices=("ls", "rm", "evict"))
    p.add_argument(
        "--warehouse",
        default=None,
        help="warehouse dir (default $FILEMAP_WAREHOUSE or the tmp default)",
    )
    p.add_argument("--key", default=None, help="key prefix filter for rm")
    p.add_argument(
        "--all",
        action="store_true",
        dest="rm_all",
        help="rm: drop EVERY committed entry (required when --key is absent)",
    )
    p.add_argument(
        "--max-bytes",
        type=int,
        default=None,
        help="evict least-recently-used entries until the warehouse fits "
        "(required for evict; 0 keeps only the newest entry)",
    )

    p = sub.add_parser(
        "compact",
        help="rewrite a fragmented parquet dataset as few range-clustered files",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--sort-key", required=True)
    p.add_argument("--target-files", type=int, default=4)
    p.add_argument("--max-records-per-file", type=int, default=2_000_000)

    args = ap.parse_args(argv)
    if args.verb == "memo":
        # warehouse maintenance is pure filesystem work: no SparkSession
        from filemap_spark.plans.memo import (
            evict_lru,
            invalidate,
            warehouse_entries,
        )

        if args.action == "ls":
            entries = warehouse_entries(args.warehouse)
            for e in entries:
                print(f"{e['key']}\t{e['bytes']}\t{int(e['mtime'])}\t{e['files']}")
            print(f"{len(entries)} entries", file=sys.stderr)
        elif args.action == "rm":
            # destructive-default guard: a bare `memo rm` must not silently
            # drop the whole warehouse — demand --key or an explicit --all
            if args.key is None and not args.rm_all:
                print("memo rm: pass --key PREFIX, or --all to drop every entry",
                      file=sys.stderr)
                return 2
            n = invalidate(args.warehouse, prefix=args.key)
            print(f"{n} entries dropped", file=sys.stderr)
        else:
            if args.max_bytes is None:
                print("memo evict: --max-bytes is required "
                      "(0 keeps only the newest entry)", file=sys.stderr)
                return 2
            keys = evict_lru(args.warehouse, args.max_bytes)
            print(f"{len(keys)} entries evicted", file=sys.stderr)
        return 0
    if args.verb == "ops":
        # registry-only: no SparkSession needed to browse the catalog
        from filemap_spark.registry import _META, all_oracle, all_queries

        queries = all_queries()
        oracle = set(all_oracle())
        shown = 0
        for name in sorted(queries):
            family = _META[name][0]
            if args.family and family != args.family:
                continue
            doc = (queries[name].__doc__ or "").strip().splitlines()
            sem = doc[0].strip() if doc else "(undocumented)"
            check = "oracle" if name in oracle else "rows-only"
            print(f"{name}\t{family}\t{check}\t{sem}")
            shown += 1
        print(f"{shown} operators", file=sys.stderr)
        return 0
    if args.verb == "query":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        n = run_query(spark, args.sf_dir, args.sql, output=args.output, limit=args.limit)
        print(f"{n} rows", file=sys.stderr)
        return 0
    if args.verb == "dedup":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        if args.method is not None and (args.stream or args.modality != "text"):
            # ADVICE r15: an explicit --method with a non-text modality
            # (or --stream) was silently ignored — say so. Perceptual
            # pairs subsume exact byte dups (identical media share a
            # fingerprint); --stream IS the incremental near-dup path.
            why = "--stream" if args.stream else f"--modality {args.modality}"
            print(
                f"note: --method {args.method} is ignored with {why} "
                "(that path defines its own pair generator)",
                file=sys.stderr,
            )
        if args.stream:
            # --stream IS the incremental near-dup path; --method is moot
            kept, total = run_dedup_stream(
                spark, args.input, args.output,
                threshold=args.threshold, modality=args.modality,
            )
        else:
            kept, total = run_dedup(
                spark, args.input, args.output, args.method or "exact",
                modality=args.modality,
            )
        print(f"kept {kept}/{total} docs -> {args.output}", file=sys.stderr)
        return 0
    if args.verb == "stats":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        for k, v in run_stats(spark, args.input).items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "quality":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        audit = run_quality(
            spark, args.input, args.output, clean_lines=args.clean_lines,
            gate=args.gate, scores_out=args.scores_out,
        )
        for k, v in audit.items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "decontam":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        audit = run_decontam(
            spark, args.input, args.output, eval_dir=args.eval_dir,
            max_frac=args.max_frac, report_out=args.report_out,
        )
        for k, v in audit.items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "tpch":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        results = run_tpch(spark, args.sf_dir, which=args.query, output=args.output)
        for qid, name, n, secs in results:
            print(f"{qid}\t{name}\t{n}\t{secs:.3f}")
        print(f"{len(results)} queries", file=sys.stderr)
        return 0
    if args.verb == "compact":
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        before, after, rows = run_compact(
            spark,
            args.input,
            args.output,
            args.sort_key,
            target_files=args.target_files,
            max_records_per_file=args.max_records_per_file,
        )
        print(
            f"compacted {before} -> {after} files ({rows} rows) -> {args.output}",
            file=sys.stderr,
        )
        return 0
    if args.verb == "pipeline":
        if not (getattr(args, "stages", None) or []):
            p.error("pipeline needs at least one --cmd/--reduce stage")
        from filemap_spark.session import get_spark

        spark = get_spark("filemap-cli")
        n = run_pipeline(
            spark,
            args.input,
            args.output,
            getattr(args, "stages", None) or [],
            buckets=args.buckets,
            partitions=args.partitions,
            memo=args.memo,
        )
        print(f"{n} lines -> {os.path.join(args.output, 'final')}", file=sys.stderr)
        return 0
    from filemap_spark.session import get_spark

    spark = get_spark("filemap-cli")
    reduce_cmd = getattr(args, "reduce", None)
    cmds = [args.cmd] + ([reduce_cmd] if reduce_cmd else [])
    fp = _fingerprint(args.input, cmds)
    if args.memo and _memo_hit(args.output, fp):
        print(f"memo hit: {args.output} up to date", file=sys.stderr)
        return 0
    if args.stream:
        if reduce_cmd:
            raise SystemExit("--stream supports map-only pipelines")
        n = run_map_stream(spark, args.input, args.output, args.cmd)
    else:
        n = run_map(
            spark,
            args.input,
            args.output,
            args.cmd,
            reduce_cmd=reduce_cmd,
            buckets=getattr(args, "buckets", 32),
            partitions=args.partitions,
        )
    if args.memo:
        _write_memo(args.output, fp)
    print(f"{n} lines -> {args.output}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
