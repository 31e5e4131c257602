"""§2.11 Embedding similarity — cosine top-k, k-NN labeling, per-label
centroids, embedding near-dup pairs, and an IVF-style ANN path (north-star
LLM-pipeline additions).

Architecture (SURVEY §4.3.3), round-2 revision — nothing index-shaped ever
materializes on the driver:

- The brute-force top-k path runs as `mapInPandas` + numpy blocked matmul.
  Each PYTHON WORKER STREAMS the index parquet in row blocks with a running
  top-k merge (round-3 rewrite of the round-2 per-worker full-index cache,
  whose resident set scaled with corpus size): worker memory is bounded by
  (query chunk x index block) at ANY index size. On a cluster the path is a
  shared-filesystem/object-store URI, readable from executors exactly like
  the driver.
- The IVF path is fully distributed: the coarse quantizer is trained on a
  BOUNDED deterministic sample (TakeOrdered by content hash, never a full
  collect), cell assignment runs in `mapInPandas` against the tiny
  broadcast centroid matrix, the index stays hash-partitioned by cell, and
  queries cogroup-join only their probed cells.
- `dedup_embedding_cosine` generates candidate pairs per cell with an
  EXACT ball-pruning bound (triangle inequality on angles), so it keeps
  hash-matching the all-pairs oracle while doing only the per-cell matmuls
  the bound cannot exclude.

Numeric parity with DuckDB's `list_cosine_similarity` on DOUBLE[] holds
because both sides compute in float64 and compare the 6dp-rounded
similarity with vec_id tiebreaks.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from filemap_spark.functions.numeric import davg
from filemap_spark.io import load_table, spread_single_split
from filemap_spark.registry import query

_COSINE_ORACLE_CORE = """
    WITH sims AS (
      SELECT a.vec_id, b.vec_id AS nbr_id,
             round(list_cosine_similarity(
               list_transform(a.embedding, x -> cast(x AS double)),
               list_transform(b.embedding, x -> cast(x AS double))), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT vec_id, nbr_id, sim,
             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rn
      FROM sims
    )
"""


def _normalized_matrix(df_pandas: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, row-normalized float64 matrix) from an embeddings pandas frame.

    Empty input yields (0-length ids, (0, 0) matrix): at corpus scale an
    empty frame is a routine event (a filter that matched nothing, an
    empty shard), and np.vstack cannot stack zero arrays."""
    ids = df_pandas["vec_id"].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        return ids, np.zeros((0, 0))
    mat = np.vstack(df_pandas["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return ids, mat / norms


def _prefix_renormalize(mat: np.ndarray, dim: int | None) -> np.ndarray:
    """Truncate row-normalized vectors to their first `dim` components and
    re-normalize — cosine over the prefix subspace (truncate-raw-then-
    normalize equals truncate-normalized-then-renormalize: the full-vector
    scale cancels). `None` or a full-width dim is the identity."""
    if dim is None or mat.size == 0 or dim >= mat.shape[1]:
        return mat
    pre = mat[:, :dim].copy()
    norms = np.linalg.norm(pre, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return pre / norms


def _index_location(sf_dir: str) -> tuple[str, tuple]:
    """(path, file-state fingerprint) of the embeddings table. The
    fingerprint (io.table_fingerprint) rides into worker closures so a
    rewritten dataset invalidates executor-side caches — the same make-style
    rule as the memoization layer (SURVEY §4.3.1)."""
    from filemap_spark.io import table_fingerprint

    path = os.path.join(sf_dir, "embeddings.parquet")
    return path, table_fingerprint(path)


# Streaming brute-force geometry: worker memory is bounded by
# _QUERY_CHUNK_ROWS x (_INDEX_BLOCK_ROWS + k) float64 (~70 MB of sims at
# these settings) AT ANY INDEX SIZE — the index is never materialized whole
# anywhere, driver or worker.
_INDEX_BLOCK_ROWS = 16384
_QUERY_CHUNK_ROWS = 512


def _stream_topk_chunk(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    path: str,
    k: int,
    block_rows: int = _INDEX_BLOCK_ROWS,
    dim: int | None = None,
) -> pd.DataFrame:
    """Exact top-k by (rounded sim DESC, nbr_id ASC) for one query chunk,
    STREAMING the index parquet block-by-block with a running top-k merge —
    round 3's replacement for the full-index-per-worker cache, whose resident
    set scaled with corpus size (the one 100x memory killer in the module).

    Per block: a composite int64 key (6dp sim scaled; block-local id-rank as
    tiebreak — valid because block columns are id-sorted) selects the block's
    best k per query via argpartition. Cross-block merge then re-ranks the
    (running ∪ block) candidates with a row-wise np.lexsort on the REAL
    (−sim, nbr_id) — block-local ranks never leak across blocks. Self matches
    are pinned to sim −2.0 (below any cosine) and dropped at the end, so a
    query emits min(k, N−1) rows exactly as the all-pairs oracle does."""
    import pyarrow.dataset as pads

    n_q = len(q_ids)
    rows = np.arange(n_q)[:, None]
    run_sims = np.full((n_q, 0), -2.0)
    run_ids = np.zeros((n_q, 0), dtype=np.int64)
    dataset = pads.dataset(path, format="parquet")
    for rb in dataset.to_batches(
        batch_size=block_rows, columns=["vec_id", "embedding"]
    ):
        if rb.num_rows == 0:
            continue
        i_ids, i_mat = _normalized_matrix(rb.to_pandas())
        i_mat = _prefix_renormalize(i_mat, dim)
        order = np.argsort(i_ids, kind="stable")
        si, sm = i_ids[order], i_mat[order]
        nb = len(si)
        sims = np.round(q_mat @ sm.T, 6)
        pos = np.searchsorted(si, q_ids)
        hit = (pos < nb) & (si[np.clip(pos, 0, nb - 1)] == q_ids)
        sims[np.nonzero(hit)[0], pos[hit]] = -2.0  # self: below any cosine
        kk = min(k, nb)
        if kk < nb:
            key = np.rint(sims * -1_000_000.0).astype(np.int64) * np.int64(
                nb + 1
            ) + np.arange(nb, dtype=np.int64)
            top = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        else:
            top = np.tile(np.arange(nb), (n_q, 1))
        cand_sims = np.concatenate([run_sims, sims[rows, top]], axis=1)
        cand_ids = np.concatenate([run_ids, si[top]], axis=1)
        keep = min(k, cand_sims.shape[1])
        perm = np.lexsort((cand_ids, -cand_sims), axis=-1)[:, :keep]
        run_sims = np.take_along_axis(cand_sims, perm, axis=1)
        run_ids = np.take_along_axis(cand_ids, perm, axis=1)
    valid = (run_sims > -1.5).ravel()
    return pd.DataFrame(
        {
            "vec_id": np.repeat(q_ids, run_sims.shape[1])[valid],
            "nbr_id": run_ids.ravel()[valid],
            "sim": run_sims.ravel()[valid],
        }
    )


def _cosine_topk_frame(
    spark: SparkSession, sf_dir: str, k: int = 5, dim: int | None = None
) -> DataFrame:
    """Top-k cosine neighbors per vector: executor-side STREAMED index read +
    blocked numpy matmul inside mapInPandas (Arrow-batched; no per-row
    Python; no whole-index materialization on driver or worker).

    The driver ships only the index path; each Python worker scans the
    columns it needs with pyarrow dataset streaming directly from shared
    storage — reads happen where the flops happen, in O(block) memory. The
    query side is repartitioned to the session's parallelism when the source
    arrives as a single file split, so the matmul fans out across executor
    cores instead of serializing through one Python worker."""
    emb = load_table(spark, sf_dir, "embeddings")
    path, _fingerprint = _index_location(sf_dir)

    def topk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            q_ids, q_mat = _normalized_matrix(pdf)
            q_mat = _prefix_renormalize(q_mat, dim)
            for lo in range(0, len(q_ids), _QUERY_CHUNK_ROWS):
                hi = lo + _QUERY_CHUNK_ROWS
                out = _stream_topk_chunk(
                    q_ids[lo:hi], q_mat[lo:hi], path, k, dim=dim
                )
                if len(out):
                    yield out

    # shared scan-fed spread guard (ADVICE r17: the inlined copy could
    # silently diverge from io.spread_single_split's threshold logic)
    queries_df = spread_single_split(emb.select("vec_id", "embedding"))
    return queries_df.mapInPandas(
        topk_batches, schema="vec_id long, nbr_id long, sim double"
    )


@query(
    "sim_cosine_topk",
    cost=2.6,
    oracle=_COSINE_ORACLE_CORE
    + """
    SELECT vec_id, nbr_id, sim FROM ranked WHERE rn <= 5
    ORDER BY vec_id, rn
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors per vector (tiebreak: rounded sim DESC,
    nbr_id ASC)."""
    return _cosine_topk_frame(spark, sf_dir, k=5).orderBy("vec_id", F.desc("sim"), "nbr_id")


@query(
    "sim_knn_label",
    cost=1.5,
    oracle=_COSINE_ORACLE_CORE
    + """
    , votes AS (
      SELECT r.vec_id, e.label, count(*) AS n_votes
      FROM ranked r JOIN embeddings e ON r.nbr_id = e.vec_id
      WHERE r.rn <= 5
      GROUP BY r.vec_id, e.label
    )
    SELECT vec_id, label AS knn_label, n_votes FROM votes
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY n_votes DESC, label) = 1
    ORDER BY vec_id
    """,
)
def sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority label among the 5 nearest neighbors (tiebreaks: votes DESC,
    label ASC) — composition of the top-k frame with an AQE-decided label join."""
    emb = load_table(spark, sf_dir, "embeddings")
    topk = _cosine_topk_frame(spark, sf_dir, k=5)
    # no broadcast hint on `labels`: one row per corpus vector — AQE
    # broadcasts while small, falls back to a shuffled join at scale
    labels = emb.select(F.col("vec_id").alias("nbr_id"), "label")
    votes = (
        topk.join(labels, "nbr_id")
        .groupBy("vec_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("knn_label"), "n_votes")
        .orderBy("vec_id")
    )


@query(
    "emb_centroid_per_label",
    oracle="""
    WITH elems AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(list_transform(embedding, x -> cast(x AS double))) AS v
      FROM embeddings
    ), means AS (
      SELECT label, pos, round(avg(v), 6) AS m FROM elems GROUP BY label, pos
    )
    SELECT label,
           array_to_string(list_transform(array_agg(m ORDER BY pos),
                                          x -> printf('%.6f', x)), ',') AS centroid
    FROM means GROUP BY label ORDER BY label
    """,
)
def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector per label — posexplode to (label, pos, v), mean per
    coordinate, re-assemble ordered by position. Stays fully distributed
    (no vector ever materializes on the driver); ~200-value coordinate means
    are far below 6dp accumulation noise.

    The centroid is emitted as a comma-joined 6dp-formatted STRING rather
    than array<double>: grading canonicalizers hash scalar cells and crash
    on raw array columns; the fixed formatting keeps engine parity exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    means = elems.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("m"))
    return (
        means.groupBy("label")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, m))),"
                " x -> format_string('%.6f', x.m)), ',')"
            ).alias("centroid")
        )
        .orderBy("label")
    )


def _train_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    n_iters: int = 5,
    max_sample: int = 4096,
) -> np.ndarray:
    """Coarse IVF quantizer trained on a BOUNDED deterministic sample.

    The sample is the max_sample rows with the smallest xxhash64(vec_id) —
    an id hash, deterministic but indifferent to vector contents (TakeOrdered:
    an O(N) scan with per-partition top-k, never a full collect or shuffle) —
    so driver memory is capped at max_sample × dim float64 regardless of
    corpus size. Init = first n_cells sample vectors
    in vec_id order; Lloyd iterations on cosine similarity. Deterministic
    end to end, so tests and operators recompute identical centroids.

    NOTE: the embeddings table's `label` column is NOT a geometric cluster
    (measured: top-5 neighbors share the query's label ~10% ≈ chance at
    every SF), so the quantizer must be learned from the vectors."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sample_pdf = (
        emb.orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(max_sample)
        .toPandas()
    )
    raw_ids, raw_mat = _normalized_matrix(sample_pdf)
    order = np.argsort(raw_ids, kind="stable")
    mat = raw_mat[order]
    cents = mat[:n_cells].copy()
    for _ in range(n_iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def _cell_index(spark: SparkSession, sf_dir: str, cents: np.ndarray) -> DataFrame:
    """(vec_id, cell, angle, embedding): distributed nearest-centroid
    assignment in one mapInPandas pass against the tiny broadcast centroid
    matrix. `embedding` is the row-NORMALIZED float64 vector (cosine of
    normalized vectors = dot product downstream); `angle` = arccos of the
    similarity to the assigned centroid, used for ball-pruning radii."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            sims = mat @ c.T
            cell = np.argmax(sims, axis=1)
            best = sims[np.arange(len(ids)), cell]
            angle = np.arccos(np.clip(best, -1.0, 1.0))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cell.astype(np.int32),
                    "angle": angle,
                    "embedding": list(mat),
                }
            )

    return emb.mapInPandas(
        assign, schema="vec_id long, cell int, angle double, embedding array<double>"
    )


@query(
    "dedup_embedding_cosine",
    cost=3.4,
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(
             list_transform(a.embedding, x -> cast(x AS double)),
             list_transform(b.embedding, x -> cast(x AS double))), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(
             list_transform(a.embedding, x -> cast(x AS double)),
             list_transform(b.embedding, x -> cast(x AS double))), 6) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b, rounded sim >= t) —
    the training-pipeline dedup primitive for semantic duplicates.

    Cell-bucketed EXACT pair generation (round-2 rewrite of the all-pairs
    broadcast matmul): vectors are assigned to IVF cells; each cell keeps
    its max member-to-centroid angle R_c; a query q probes every cell c
    with angle(q, c) <= arccos(t) + R_c. By the triangle inequality any
    pair within the threshold shares a (query, probed-cell-of-partner)
    route, so recall is 100% BY CONSTRUCTION — the oracle stays the exact
    all-pairs SQL — while the matmul work drops to the per-cell blocks the
    ball bound cannot exclude. Each unordered pair is emitted exactly once
    (from the smaller id probing the larger id's cell; same-cell pairs
    self-probe), so no distinct pass is needed. On clustered corpora the
    bound prunes most cells; on adversarially isotropic data it degrades
    toward all-pairs, which any exact algorithm must. At 100 TB, n_cells
    scales with corpus size so per-cell blocks stay executor-sized, and
    the cogroup shuffles each vector nprobe-ish times — never N².

    The contract embeddings are isotropic (measured max pairwise cosine
    ~0.51), so t=0.4 is data-tuned to exercise the operator; production
    text dedup uses t~0.95 where the ball bound prunes hard."""
    threshold = 0.4
    cents = _train_centroids(spark, sf_dir)
    # materialized once: the radii aggregate AND the cogroup below both
    # consume the assignment pass — without this it runs twice
    index = _cell_index(spark, sf_dir, cents).localCheckpoint()
    # n_cells rows — a tiny, justified driver action (like a collected dim)
    radii_rows = index.groupBy("cell").agg(F.max("angle").alias("radius")).collect()
    radii = np.zeros(len(cents))
    for r in radii_rows:
        radii[r["cell"]] = r["radius"]
    # margin covers 6dp rounding of sims (t - 1e-6) and float64 angle error
    max_angle = float(np.arccos(threshold - 1e-6)) + 1e-9
    bc = spark.sparkContext.broadcast((cents, radii))

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, rad = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            ang = np.arccos(np.clip(mat @ c.T, -1.0, 1.0))
            qi, ci = np.nonzero(ang <= max_angle + rad[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": ids[qi],
                    "cell": ci.astype(np.int32),
                    "embedding": list(mat[qi]),
                }
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_df = emb.mapInPandas(probes, schema="vec_id long, cell int, embedding array<double>")

    def pair_fn(q_pdf: pd.DataFrame, i_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        if q_pdf.empty or i_pdf.empty:
            return empty
        q_ids = q_pdf["vec_id"].to_numpy(dtype=np.int64)
        q_mat = np.vstack(q_pdf["embedding"].to_numpy())
        i_ids = i_pdf["vec_id"].to_numpy(dtype=np.int64)
        i_mat = np.vstack(i_pdf["embedding"].to_numpy())
        sims = np.round(q_mat @ i_mat.T, 6)
        qi, bi = np.nonzero((sims >= threshold) & (q_ids[:, None] < i_ids[None, :]))
        return pd.DataFrame(
            {"vec_a": q_ids[qi], "vec_b": i_ids[bi], "sim": sims[qi, bi]}
        )

    pairs = (
        q_df.groupby("cell")
        .cogroup(index.groupby("cell"))
        .applyInPandas(pair_fn, schema="vec_a long, vec_b long, sim double")
    )
    return pairs.orderBy("vec_a", "vec_b")


def _cell_topk(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    i_ids: np.ndarray,
    i_mat: np.ndarray,
    k: int,
) -> pd.DataFrame:
    """Per-cell top-k by (rounded sim DESC, nbr_id ASC). Unlike
    _stream_topk_chunk, a query may or may not be a member of the cell, so
    self-exclusion is handled per row via the +inf key and a validity mask
    (the +inf self entry can only surface when the cell has <= k members,
    and is dropped there)."""
    n = len(i_ids)
    order = np.argsort(i_ids, kind="stable")
    si, sm = i_ids[order], i_mat[order]
    sims = np.round(q_mat @ sm.T, 6)
    key = np.rint(sims * -1_000_000.0).astype(np.int64) * np.int64(n + 1) + np.arange(
        n, dtype=np.int64
    )
    pos = np.searchsorted(si, q_ids)
    hit = (pos < n) & (si[np.clip(pos, 0, n - 1)] == q_ids)
    sentinel = np.iinfo(np.int64).max
    key[np.nonzero(hit)[0], pos[hit]] = sentinel
    kk = min(k, n)
    if kk < n:
        top = np.argpartition(key, kk - 1, axis=1)[:, :kk]
    else:
        top = np.tile(np.arange(n), (len(q_ids), 1))
    rows = np.arange(len(q_ids))[:, None]
    order_k = np.argsort(key[rows, top], axis=1, kind="stable")
    top = top[rows, order_k]
    flat_key = key[rows, top].ravel()
    valid = flat_key != sentinel
    return pd.DataFrame(
        {
            "vec_id": np.repeat(q_ids, kk)[valid],
            "nbr_id": si[top].ravel()[valid],
            "sim": sims[rows, top].ravel()[valid],
        }
    )


@query("sim_ann_ivf", cost=1.5)  # rows-only: ANN recall is approximate by design
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5, fully distributed (round-2 rewrite):
    sample-trained coarse quantizer (_train_centroids — bounded driver
    memory), mapInPandas cell assignment, index hash-partitioned by cell,
    queries exploded to their nprobe=2 nearest cells and cogroup-joined to
    exactly those index partitions; per-cell vectorized top-5 then a global
    window top-5 over the <= nprobe*k survivors per query.

    This is the 100 TB layout: no full-index broadcast, no driver k-means —
    cost per query is O(N * nprobe / n_cells) flops inside the probed
    cells and the shuffle carries each vector nprobe+1 times. Not
    oracle-graded: tests assert the MECHANISM is exact (output ≡
    brute-force restricted to probed cells); absolute recall is a data
    property (isotropic vectors ⇒ modest recall at nprobe=2, by design)."""
    nprobe, k = 2, 5
    cents = _train_centroids(spark, sf_dir)
    index = _cell_index(spark, sf_dir, cents)
    bc = spark.sparkContext.broadcast(cents)

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            sims = mat @ c.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "cell": top.ravel().astype(np.int32),
                    "embedding": list(np.repeat(mat, nprobe, axis=0)),
                }
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_df = emb.mapInPandas(probes, schema="vec_id long, cell int, embedding array<double>")

    def cell_topk_fn(q_pdf: pd.DataFrame, i_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "nbr_id": [], "sim": []})
        if q_pdf.empty or i_pdf.empty:
            return empty
        q_ids = q_pdf["vec_id"].to_numpy(dtype=np.int64)
        q_mat = np.vstack(q_pdf["embedding"].to_numpy())
        i_ids = i_pdf["vec_id"].to_numpy(dtype=np.int64)
        i_mat = np.vstack(i_pdf["embedding"].to_numpy())
        return _cell_topk(q_ids, q_mat, i_ids, i_mat, k)

    cands = (
        q_df.groupby("cell")
        .cogroup(index.groupby("cell"))
        .applyInPandas(cell_topk_fn, schema="vec_id long, nbr_id long, sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "sim")
        .orderBy("vec_id", F.desc("sim"), "nbr_id")
    )


# Random-hyperplane LSH geometry: T tables of B sign-bits each. B trades
# candidate density against selectivity (collision prob for angle θ is
# (1-θ/π)^B per table); T tables OR the candidate sets together. At corpus
# scale raise B (keeps buckets shard-sized) and T (recovers recall) —
# cost grows linearly in T, bucket work shrinks geometrically in B.
_LSH_TABLES = 8
_LSH_BITS = 6
_LSH_SEED = 0x5EED


def _lsh_planes(dim: int) -> np.ndarray:
    """Deterministic (T*B, dim) Gaussian hyperplanes — same on every
    driver/worker/rerun (seeded PCG64; numpy guarantees stream stability)."""
    return np.random.default_rng(_LSH_SEED).standard_normal(
        (_LSH_TABLES * _LSH_BITS, dim)
    )


def _lsh_signature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table_id, bucket, embedding) — each vector exploded to its
    T (table, bucket) keys, embedding row-normalized. Signatures are
    computed in Arrow batches against broadcast planes; nothing is
    collected."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # first() is None on an empty corpus; any positive dim works then —
    # sigs() never sees a non-empty batch, so the planes are never applied
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = first["d"] if first is not None else 1
    bc = spark.sparkContext.broadcast(_lsh_planes(dim))

    def sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = bc.value
        weights = 1 << np.arange(_LSH_BITS, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            bits = (mat @ planes.T) >= 0.0
            bits = bits.reshape(len(ids), _LSH_TABLES, _LSH_BITS)
            buckets = (bits * weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, _LSH_TABLES),
                    "table_id": np.tile(
                        np.arange(_LSH_TABLES, dtype=np.int32), len(ids)
                    ),
                    "bucket": buckets.ravel(),
                    "embedding": list(np.repeat(mat, _LSH_TABLES, axis=0)),
                }
            )

    return emb.mapInPandas(
        sigs, schema="vec_id long, table_id int, bucket long, embedding array<double>"
    )


@query("sim_ann_lsh", cost=1.5)  # rows-only: ANN recall is approximate by design
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 — the bucket-join ANN family
    member next to IVF (`sim_ann_ivf`): T=8 tables of B=6 sign-bits, vectors
    sharing a (table, bucket) key become candidates, exact cosine inside
    each bucket (`_cell_topk`, self-excluded), candidates OR-merged across
    tables (groupBy max — sims are identical up to 6dp rounding), then a
    per-query window top-5.

    The 100 TB layout: no trained model, no driver state, no broadcast of
    anything but the (T*B x dim) plane matrix; the only shuffle keys are
    (table, bucket) — bucket sizes concentrate around N/2^B per table, and a
    hot bucket is splittable by raising B. Not oracle-graded: the mechanism
    test pins output ≡ brute-force restricted to each query's candidate set
    (tests/test_quality.py); absolute recall is a data property (isotropic
    corpus ⇒ modest by design)."""
    k = 5
    sig = _lsh_signature_frame(spark, sf_dir)

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": [], "nbr_id": [], "sim": []})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["embedding"].to_numpy())
        return _cell_topk(ids, mat, ids, mat, k)

    cands = (
        sig.groupBy("table_id", "bucket")
        .applyInPandas(bucket_topk, schema="vec_id long, nbr_id long, sim double")
        .groupBy("vec_id", "nbr_id")
        .agg(F.max("sim").alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "sim")
        .orderBy("vec_id", F.desc("sim"), "nbr_id")
    )


@query(
    "emb_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS scale
      FROM v
    )
    SELECT vec_id, round(scale, 6) AS scale,
           cast(list_max(list_transform(e, x -> floor(abs(x) / scale * 127 + 0.5))) AS int)
             AS max_q,
           round(list_max(list_transform(e,
             x -> abs(x - floor(x / scale * 127 + 0.5) * scale / 127))), 6) AS max_err
    FROM s ORDER BY vec_id
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the 4x storage compression a
    100 TB vector corpus ships with: per-vector scale = max|x|, code =
    floor(x/scale*127 + 0.5), plus the max reconstruction error.

    Quantization uses floor(x + 0.5) instead of round() everywhere: floor
    is a single IEEE operation with identical results in Spark and DuckDB,
    while round() half-way handling is engine-specific (the dsum lesson,
    functions/numeric.py). Pure higher-order array expressions, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS double))").alias("e")
    )
    s = v.select(
        "vec_id", "e", F.expr("array_max(transform(e, x -> abs(x)))").alias("scale")
    )
    return (
        s.select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.expr(
                "cast(array_max(transform(e, x -> floor(abs(x) / scale * 127 + 0.5))) AS int)"
            ).alias("max_q"),
            F.round(
                F.expr(
                    "array_max(transform(e,"
                    " x -> abs(x - floor(x / scale * 127 + 0.5) * scale / 127)))"
                ),
                6,
            ).alias("max_err"),
        )
        .orderBy("vec_id")
    )


@query("sim_recall_eval", cost=6.0)  # rows-only: scores ANN internals, no SQL twin
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION harness — recall@5 of every approximate
    path (IVF coarse-quantizer, random-hyperplane LSH, and — round 15,
    VERDICT r14 task 6 — the IVF-PQ tier) against the exact brute-force
    top-5, as a first-class queryable result: the number every
    index-tuning loop watches. One row per method with the query count and
    mean recall; `ivf_pq` recall ≤ `ivf` by construction (same probed
    cells, ADC-compressed scoring), a relation the floor pin in
    tests/test_quality.py asserts alongside the absolute floors.

    Determinism: every input operator is deterministic (stable tiebreaks,
    seeded planes/centroids), and the mean is computed as an integer ratio
    sum(hits) / (k * n_queries) rounded once — no float accumulation
    order anywhere.

    Scale: the exact baseline is the block-streamed matmul (bounded worker
    memory); the intersections are hash joins on (vec_id, nbr_id). In
    production this runs on a SAMPLED query set (add .sample upstream of
    the exact pass) — the harness shape is unchanged."""
    k = 5
    exact = _cosine_topk_frame(spark, sf_dir, k=k).select("vec_id", "nbr_id")
    # denominator = the ACTUAL exact-neighbor count, not k * n_queries: on
    # a corpus with fewer than k+1 vectors (or any upstream top-k shorter
    # than k) the fixed product would understate recall and cap it < 1.0
    n_exact = exact.count()
    n_queries = load_table(spark, sf_dir, "embeddings").count()
    evals = []
    for method, fn in (
        ("ivf", sim_ann_ivf),
        ("ivf_pq", sim_ann_pq),
        ("lsh", sim_ann_lsh),
    ):
        ann = fn(spark, sf_dir).select("vec_id", "nbr_id")
        hits = ann.join(exact, ["vec_id", "nbr_id"], "left_semi").count()
        # degenerate corpus (no exact neighbors to recall): vacuous 1.0,
        # never a ZeroDivisionError
        recall = round(hits / n_exact, 6) if n_exact else 1.0
        evals.append((method, int(n_queries), recall))
    return spark.createDataFrame(
        evals, "method string, n_queries bigint, recall_at_5 double"
    ).orderBy("method")


@query("emb_cluster_kmeans", cost=1.5)  # rows-only: k-means is not SQL
def emb_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering as a first-class graded surface (round 5) — the
    corpus-partitioning step under semantic dedup, topic balancing, and
    IVF index builds, reported as a per-cluster health summary (size +
    cohesion) rather than a per-vector dump. Reuses the IVF machinery:
    the quantizer trains on a BOUNDED deterministic sample
    (_train_centroids — driver memory capped at 4096×dim regardless of
    corpus size), assignment is one mapInPandas pass against the tiny
    broadcast centroid matrix (_cell_index), and the summary is ONE hash
    agg keyed by cluster.

    Determinism: centroids are deterministic end-to-end (hash-ordered
    sample, fixed init, fixed Lloyd iterations); per-cluster mean
    similarity is an exact scaled-int64 ratio, min/max are order-free —
    the whole report is rerun-identical. Rows-only by design
    (eigen/centroid math is not SQL); tests/test_kernels.py pins the
    assignment against a direct numpy recomputation.

    Scale: sample-bounded train + broadcast assign + O(clusters) agg —
    no shuffle of the embedding matrix at any point."""
    cents = _train_centroids(spark, sf_dir)
    idx = _cell_index(spark, sf_dir, cents)
    sim_scaled = "cast(round(cos(angle) * 1000000) as bigint)"
    return (
        idx.groupBy(F.col("cell").alias("cluster"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.expr(
                f"round(cast(cast(sum({sim_scaled}) as decimal(38,6)) / 1000000"
                " as double) / count(*), 6)"
            ).alias("avg_sim"),
            F.round(F.min(F.cos("angle")), 6).alias("min_sim"),
            F.round(F.max(F.cos("angle")), 6).alias("max_sim"),
        )
        .orderBy("cluster")
    )


_PCA_COMPONENTS = 8


def gram_partials(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Per-PARTITION Gram partials (min vec_id, n, Σx, X'X flat) of the
    embedding column. Arrow batches are folded inside the mapInPandas
    iterator before anything is yielded, so the frame holds AT MOST one
    row per input partition — the driver's collect is O(partitions × dim²)
    no matter how many Arrow batches the corpus splits into (pinned by
    tests/test_kernels.py::test_pca_partials_one_row_per_partition)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        min_id = None
        s = np.zeros(dim, dtype=np.float64)
        xtx = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += len(mat)
            s += mat.sum(axis=0)
            xtx += mat.T @ mat
            m = int(pdf["vec_id"].min())
            min_id = m if min_id is None else min(min_id, m)
        if n:
            yield pd.DataFrame(
                {
                    "min_id": [min_id],
                    "n": [n],
                    "s": [s],
                    "xtx": [xtx.ravel()],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        partials,
        schema="min_id long, n long, s array<double>, xtx array<double>",
    )


def pca_components(emb: DataFrame, dim: int = 64) -> tuple[np.ndarray, np.ndarray]:
    """(mean[dim], components[dim, k]) of the embedding column, computed
    with ONE distributed pass: each PARTITION emits its partial
    (n, sum[dim], X'X[dim*dim]) — Arrow batches are folded inside the
    mapInPandas iterator, so driver state is O(partitions × dim²), not
    O(batches × dim²) — and the dim×dim Gram matrix is assembled and
    eigendecomposed on the driver (64×64 — microseconds, independent of
    corpus size). Deterministic: within a partition batches arrive in a
    fixed order and are folded sequentially in float64; partition partials
    are summed after a lexsort by partition-min vec_id, and each
    eigenvector's sign is fixed by its largest-|coordinate| entry."""

    rows = gram_partials(emb, dim).collect()  # <= one row per input partition
    rows.sort(key=lambda r: r["min_id"])
    if not rows:  # empty corpus: no partials — zero mean, zero components
        return np.zeros(dim), np.zeros((dim, _PCA_COMPONENTS))
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    xtx = np.sum([np.asarray(r["xtx"]) for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:_PCA_COMPONENTS]
    comps = vecs[:, order]
    # sign convention: largest-|coordinate| entry of each component positive
    for j in range(comps.shape[1]):
        i = int(np.abs(comps[:, j]).argmax())
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    return mean, comps


@query("emb_pca_project", cost=1.0)  # rows-only: eigendecomposition, not SQL
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus to its top-8 principal
    components — the standard dimensionality-reduction front end for
    cheap ANN, clustering, and drift dashboards. Fit is one distributed
    pass (per-partition Gram partials; see pca_components) + a driver-side
    64×64 eigh; projection is a second distributed pass against the
    broadcast (mean, components) pair.

    Output is 8 SCALAR double columns pc0..pc7 (not array<double>): the
    grading canonicalizer pandas-lexsorts every result — including
    rows-only ones — and a raw array cell is unhashable there (the
    agg_collect_sorted precedent, aggregates.py). Scalar components are
    also the downstream-friendly layout (each is filterable/joinable).

    Not oracle-graded (eigendecomposition is not SQL-expressible);
    tests/test_kernels.py pins mean/components/projection against a
    direct numpy PCA of the full collected matrix.

    Scale: driver state is O(partitions × dim²) floats regardless of
    corpus size; the projection broadcast is dim×(k+1) floats; both
    passes are embarrassingly parallel Arrow batches — no shuffle at
    all."""
    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps = pca_components(emb)
    b_mean = emb.sparkSession.sparkContext.broadcast(mean)
    b_comps = emb.sparkSession.sparkContext.broadcast(comps)
    k = comps.shape[1]
    pc_cols = [f"pc{j}" for j in range(k)]

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            proj = np.round((mat - b_mean.value) @ b_comps.value, 6)
            out = {"vec_id": pdf["vec_id"]}
            for j, name in enumerate(pc_cols):
                out[name] = proj[:, j]
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(f"{c} double" for c in pc_cols)
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(project, schema=schema)
        .orderBy("vec_id")
    )


_SEMDEDUP_T = 0.4  # data-tuned like dedup_embedding_cosine (corpus isotropic)


@query("dedup_semdedup", cost=1.5)  # rows-only: kmeans clustering not SQL
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — semantic dedup at web scale: k-means
    cluster the embedding corpus, then search for near-duplicate pairs
    ONLY WITHIN each cluster and keep one representative per duplicate
    group. The deliberate approximation (cross-cluster pairs are ignored)
    is what makes semantic dedup affordable at 100 TB: candidate
    generation drops from O(n²) to Σ|cell|², with the cluster pass
    amortized from the ANN index build. Contrast dedup_embedding_cosine,
    which pays ball-pruned probes to stay EXACT.

    Output is the per-cluster curation report (size, duplicate pairs,
    docs removed, keep rate — the numbers the SemDeDup paper tables
    report), not the raw pairs: keep rule = a vector is removed iff some
    SAME-CLUSTER neighbor with a smaller vec_id sits at rounded cosine
    >= 0.4. Deterministic end-to-end (deterministic quantizer, 6dp sims,
    id-based keep rule); tests/test_kernels.py pins every cell against a
    numpy brute-force recomputation.

    Scale: per-cell pair generation runs in applyInPandas bounded by cell
    size (cells track k — tune k so |cell| ~ 10⁴-10⁵ rows); no global
    shuffle beyond the cell exchange. The similarity matrix is computed in
    row BLOCKS (round 10, VERDICT r9 task 3): task memory is
    O(block·|cell|) = 2048·10⁵·8 B ≈ 1.6 GB worst-case at the 10⁵-row
    cell target, instead of the O(|cell|²) = 80 GB a full matmul would
    need there; pair/removed counts accumulate across blocks with
    identical rounding, so the report is bit-identical to the full-matrix
    form (pinned per-cell in tests/test_kernels.py)."""
    cents = _train_centroids(spark, sf_dir)
    idx = _cell_index(spark, sf_dir, cents).select("vec_id", "cell", "embedding")

    return (
        idx.groupBy("cell")
        .applyInPandas(
            _semdedup_cell_report,
            schema="cell int, n_vectors long, n_dup_pairs long, "
            "n_removed long, keep_rate double",
        )
        .orderBy("cell")
    )


def _semdedup_cell_report(
    pdf: pd.DataFrame, *, block: int = 2048
) -> pd.DataFrame:
    """One cell's SemDeDup report — module-level so the blocked kernel is
    unit-testable past the block boundary (the contract corpus's cells
    are all ≪ one block; tests/test_kernels.py drives a >2048-row cell
    through this directly). `block` is keyword-only: applyInPandas
    passes the group KEY as a second positional arg to two-positional
    functions."""
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.vstack(pdf["embedding"].to_numpy())[order]
    n = len(ids)
    n_pairs = 0
    removed = np.zeros(n, dtype=bool)  # has a smaller-id nbr above t
    col = np.arange(n)[None, :]
    for s in range(0, n, block):
        e = min(s + block, n)
        sims = np.round(mat[s:e] @ mat.T, 6)
        dup = (sims >= _SEMDEDUP_T) & (np.arange(s, e)[:, None] < col)
        n_pairs += int(dup.sum())
        removed |= dup.any(axis=0)
    n_removed = int(removed.sum())
    return pd.DataFrame(
        {
            "cell": [int(pdf["cell"].iloc[0])],
            "n_vectors": [n],
            "n_dup_pairs": [n_pairs],
            "n_removed": [n_removed],
            "keep_rate": [round((n - n_removed) / n, 6)],
        }
    )


@query(
    "emb_norm_stats",
    cost=0.5,
    oracle="""
    WITH n AS (
      SELECT label,
             sqrt(cast(list_sum(list_transform(embedding,
                    x -> cast(round(cast(x AS double) * cast(x AS double) * 1000000)
                         AS bigint))) AS double) / 1000000) AS norm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           {davg_norm},
           round(min(norm), 6) AS min_norm,
           round(max(norm), 6) AS max_norm
    FROM n GROUP BY label ORDER BY label
    """.format(davg_norm=davg("norm", "avg_norm")),
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm distribution (round 5): the first
    diagnostic to run on any embedding table — un-normalized vectors break
    cosine-vs-dot assumptions, a label whose norms drift signals an
    encoder version mix, and near-zero norms flag failed encodes.

    Determinism: the squared-element sum is quantized to integer
    micro-units PER ELEMENT (identical float→double widening → identical
    integers) and summed as int64, so the norm is order-free; sqrt is
    IEEE-correctly-rounded, so both engines land on the same double. The
    per-label mean then rides the standard davg discipline.

    Scale: one projection + one hash aggregate — the array math is
    per-row, the shuffle carries O(labels) partial states. 64 dims ×
    round ≤ 6.5e8 per element, × 64 ≤ 4.2e10 per row: int64 holds to
    ~10^8-dim vectors, no decimal needed."""
    from filemap_spark.functions.numeric import davg

    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.expr(
        "aggregate(embedding, cast(0 as bigint), (acc, x) -> "
        "acc + cast(round(cast(x as double) * cast(x as double) * 1000000) as bigint))"
    )
    norm = F.sqrt(sq_sum.cast("double") / 1000000)
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.expr(davg("norm", "avg_norm")),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


@query(
    "emb_label_centroid_sim",
    cost=0.5,
    oracle="""
    WITH elems AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(list_transform(embedding, x -> cast(x AS double))) AS v
      FROM embeddings
    ), means AS (
      SELECT label, pos, round(avg(v), 6) AS m FROM elems GROUP BY label, pos
    ), norms AS (
      SELECT label, cast(sum(cast(round(m * m * 1000000000000) AS bigint)) AS bigint) AS n2s
      FROM means GROUP BY label
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             cast(sum(cast(round(a.m * b.m * 1000000000000) AS bigint)) AS bigint) AS ds
      FROM means a JOIN means b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           round((cast(ds AS double) / 1000000000000)
                 / (sqrt(cast(x.n2s AS double) / 1000000000000)
                    * sqrt(cast(y.n2s AS double) / 1000000000000)), 6) AS cos_sim
    FROM dots JOIN norms x ON label_a = x.label JOIN norms y ON label_b = y.label
    ORDER BY label_a, label_b
    """,
)
def emb_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separation matrix (round 5): pairwise cosine similarity between
    the per-label centroid vectors — the embedding-space diagnostic read
    BEFORE trusting `sim_knn_label` voting or label-stratified dedup: two
    labels whose centroids sit at cos ≳ 0.9 will bleed into each other
    under any nearest-neighbor rule, and a label whose centroid is near-
    orthogonal to all others is safely separable.

    Determinism: coordinate means are rounded to 6dp first (identical
    doubles both engines, per the emb_centroid_per_label precedent); every
    dot/norm term is then quantized to an exact 1e-12-scaled int64 before
    summation (64 terms × ≤1e13 — order-free), so the cosine is a pure
    function of the data. sqrt is IEEE-exact.

    Scale: the ONLY data-sized work is the per-(label, pos) mean — one
    partial-agg-friendly hash aggregate over exploded coordinates;
    everything after operates on O(labels × dim) rows (640 here), and the
    pair join is O(labels² × dim) — independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    # materialized once (round 9): the a/b join sides AND the two norm
    # consumers all read this O(labels × dim) frame — un-checkpointed,
    # the data-sized explode+mean ran four times per query
    means = (
        elems.groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .localCheckpoint()
    )
    term = lambda x: F.round(x * 1e12).cast("bigint")  # noqa: E731
    norms = means.groupBy("label").agg(
        F.sum(term(F.col("m") * F.col("m"))).cast("bigint").alias("n2s")
    )
    a, b = means.alias("a"), means.alias("b")
    dots = (
        a.join(b, (F.col("a.pos") == F.col("b.pos")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(term(F.col("a.m") * F.col("b.m"))).cast("bigint").alias("ds"))
    )
    x, y = norms.alias("x"), norms.alias("y")
    return (
        dots.join(x, F.col("label_a") == F.col("x.label"))
        .join(y, F.col("label_b") == F.col("y.label"))
        .select(
            "label_a",
            "label_b",
            F.round(
                (F.col("ds").cast("double") / 1e12)
                / (
                    F.sqrt(F.col("x.n2s").cast("double") / 1e12)
                    * F.sqrt(F.col("y.n2s").cast("double") / 1e12)
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


@query(
    "emb_truncate_renorm",
    cost=0.5,
    oracle=f"""
    WITH q AS (
      SELECT label,
             cast(list_sum(list_transform(embedding[1:16],
                    x -> cast(round(cast(x AS double) * cast(x AS double)
                              * 1000000) AS bigint))) AS bigint) AS q16,
             cast(list_sum(list_transform(embedding,
                    x -> cast(round(cast(x AS double) * cast(x AS double)
                              * 1000000) AS bigint))) AS bigint) AS q64
      FROM embeddings
    ), r AS (
      SELECT label,
             sqrt(cast(q16 AS double) / 1000000)
               / sqrt(cast(q64 AS double) / 1000000) AS retained
      FROM q
    )
    SELECT label, count(*) AS n_vecs,
           {{davg}},
           round(min(retained), 6) AS min_retained,
           round(max(retained), 6) AS max_retained
    FROM r GROUP BY label ORDER BY label
    """.format(davg=davg("retained", "avg_retained")),
)
def emb_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation diagnostic (round 6): how much L2 mass the
    first 16 of 64 dimensions retain, per label — the measurement that
    decides whether a truncated (cheaper) embedding is safe for coarse
    retrieval stages (IVF routing, first-pass ANN) before full-dimension
    re-ranking. retained = ‖v[:16]‖ / ‖v‖ ∈ [0,1]; a label whose
    retention is low concentrates late-dimension information and will
    mis-route under truncation.

    Determinism: both squared-norm sums use emb_norm_stats' per-element
    integer quantization (order-free int64), sqrt is correctly rounded,
    and the ratio divides two identical doubles; the per-label mean rides
    the davg discipline. Assumes no all-zero vectors (contract corpus).

    Scale: one projection + one hash aggregate — same shape as
    emb_norm_stats; nothing grows with corpus size but the scan."""
    from filemap_spark.functions.numeric import davg

    emb = load_table(spark, sf_dir, "embeddings")
    q16 = F.expr(
        "aggregate(slice(embedding, 1, 16), cast(0 as bigint), (acc, x) -> "
        "acc + cast(round(cast(x as double) * cast(x as double) * 1000000) as bigint))"
    )
    q64 = F.expr(
        "aggregate(embedding, cast(0 as bigint), (acc, x) -> "
        "acc + cast(round(cast(x as double) * cast(x as double) * 1000000) as bigint))"
    )
    retained = F.sqrt(q16.cast("double") / 1000000) / F.sqrt(
        q64.cast("double") / 1000000
    )
    return (
        emb.select("label", retained.alias("retained"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.expr(davg("retained", "avg_retained")),
            F.round(F.min("retained"), 6).alias("min_retained"),
            F.round(F.max("retained"), 6).alias("max_retained"),
        )
        .orderBy("label")
    )


@query(
    "emb_pair_distance_hist",
    cost=2.2,
    oracle="""
    WITH nn AS (
      SELECT count(*) AS n FROM embeddings
    ), pairs AS (
      SELECT e.vec_id AS id_a,
             CASE WHEN (e.vec_id * 7919 + 104729) % nn.n = e.vec_id
                  THEN ((e.vec_id * 7919 + 104729) % nn.n + 1) % nn.n
                  ELSE (e.vec_id * 7919 + 104729) % nn.n END AS id_b
      FROM embeddings e CROSS JOIN nn
    ), elems AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
             unnest(list_transform(embedding, x -> cast(x AS double))) AS v
      FROM embeddings
    ), terms AS (
      SELECT p.id_a, p.id_b, a.label AS label_a, b.label AS label_b,
             cast(round(a.v * b.v * 1000000000000) AS bigint) AS dt,
             cast(round(a.v * a.v * 1000000000000) AS bigint) AS at2,
             cast(round(b.v * b.v * 1000000000000) AS bigint) AS bt2
      FROM pairs p
        JOIN elems a ON a.vec_id = p.id_a
        JOIN elems b ON b.vec_id = p.id_b AND b.pos = a.pos
    ), sims AS (
      SELECT id_a, id_b, label_a, label_b,
             cast(round(
               (cast(sum(dt) AS double) / 1000000000000)
               / (sqrt(cast(sum(at2) AS double) / 1000000000000)
                  * sqrt(cast(sum(bt2) AS double) / 1000000000000))
               * 1000) AS bigint) AS cos_milli
      FROM terms GROUP BY id_a, id_b, label_a, label_b
    )
    SELECT cast(floor(cast(cos_milli AS double) / 50) AS int) AS bucket,
           count(*) AS n_pairs,
           cast(sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END) AS bigint)
             AS n_same_label
    FROM sims GROUP BY bucket ORDER BY bucket
    """,
)
def emb_pair_distance_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-similarity calibration histogram (round 6, staged r7): the
    distribution of cosine similarity over a deterministic O(n) sample of
    vector pairs, bucketed at 0.05 width with a same-label count per
    bucket — the curve you read BEFORE choosing any dedup/ANN threshold
    (where does the same-label mass separate from the cross-label mass?).
    Sampling reuses sample_negative_pairs' affine-hash pairing: seed-free,
    order-free, rerun-stable, exactly one partner per anchor (self-pairs
    advance), so the histogram is a pure function of the corpus — never
    O(n²) pairs.

    Determinism: per-element dot/norm terms quantize to 1e-12-scaled int64
    before the order-free sums (emb_label_centroid_sim's discipline); the
    cosine is then quantized to integer MILLI-units before bucketing, so
    the floor-by-50 bucket boundary is an exact-integer test — a cosine
    landing on a bucket edge cannot split engines. (milli/50 as double:
    both operands are small exact integers, the quotient's floor is exact.)

    Scale: pair generation is a map (one broadcast n); the only data-sized
    shuffles are the two vec_id joins — of WHOLE VECTOR ROWS, not
    elements. (Round-12 rewrite: the r7 form posexploded both join sides
    and re-assembled each pair through an n×dim-row equi-join plus an
    n-group aggregate — the quantized per-element terms are int64, and
    integer addition is order-free, so the same exact sums now fold
    map-side with zip_with/aggregate over the joined array columns: the
    element explosion, the (id, pos) join blow-up, and the whole sim
    aggregate disappear from the shuffle graph.) Round-13 rewrite
    (VERDICT r12 task 7): the vector frame is checkpointed ONCE and the
    row count, the pair map, and both join sides all derive from it —
    one embeddings scan total (the sweep's last allowlisted thin re-read
    for this op is gone); the checkpoint is O(n·dim), the same state a
    cluster run would persist. The histogram output is O(41) rows."""
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .localCheckpoint()
    )
    nn = vecs.agg(F.count("*").cast("bigint").alias("n"))
    cand = (F.col("vec_id") * 7919 + 104729) % F.col("n")
    pairs = (
        vecs.select("vec_id")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("vec_id").alias("id_a"),
            F.when(cand == F.col("vec_id"), (cand + 1) % F.col("n"))
            .otherwise(cand)
            .alias("id_b"),
        )
    )

    def isum(arr):  # exact-int64 fold; addition order is immaterial
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    def term(x):  # 1e-12-quantized int64 term (the shared discipline)
        return F.round(x * F.lit(1000000000000.0), 0).cast("long")

    sims = (
        pairs.join(
            vecs.select(
                F.col("vec_id").alias("id_a"),
                F.col("label").alias("label_a"),
                F.col("v").alias("va"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("id_b"),
                F.col("label").alias("label_b"),
                F.col("v").alias("vb"),
            ),
            "id_b",
        )
        .select(
            "label_a",
            "label_b",
            isum(F.zip_with("va", "vb", lambda x, y: term(x * y))).alias("dt"),
            isum(F.transform("va", lambda x: term(x * x))).alias("at2"),
            isum(F.transform("vb", lambda x: term(x * x))).alias("bt2"),
        )
        .select(
            "label_a",
            "label_b",
            F.expr(
                "cast(round("
                "(cast(dt as double) / 1000000000000)"
                " / (sqrt(cast(at2 as double) / 1000000000000)"
                "    * sqrt(cast(bt2 as double) / 1000000000000))"
                " * 1000) as bigint)"
            ).alias("cos_milli"),
        )
    )
    return (
        sims.groupBy(
            F.expr("cast(floor(cast(cos_milli as double) / 50) as int)").alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_same_label"),
        )
        .orderBy("bucket")
    )


@query(
    "sim_maxsim_multivector",
    oracle="""
    WITH doc AS (
      SELECT vec_id, vec_id // 8 AS did, vec_id % 8 AS tok,
             list_transform(embedding, x -> cast(x AS double)) AS v
      FROM embeddings
    ), q AS (SELECT * FROM doc WHERE did < 4),
    tokmax AS (
      SELECT q.did AS q_did, d.did AS d_did, q.tok AS q_tok,
             max(cast(round(list_cosine_similarity(q.v, d.v) * 10000)
                      AS bigint)) AS max_sim_q4
      FROM q JOIN doc d ON d.did <> q.did
      GROUP BY 1, 2, 3
    ), score AS (
      SELECT q_did, d_did, sum(max_sim_q4) AS maxsim_q4,
             count(*) AS n_qtok
      FROM tokmax GROUP BY 1, 2
    )
    SELECT q_did, d_did,
           cast(cast(maxsim_q4 AS decimal(38,4)) / 10000 AS double)
             AS maxsim_score,
           cast(n_qtok AS bigint) AS n_qtok
    FROM score
    QUALIFY row_number() OVER (PARTITION BY q_did
                               ORDER BY maxsim_q4 DESC, d_did) <= 3
    """,
    cost=1.0,
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (round 6, staged r7) — the
    ColBERT MaxSim operator: documents are BAGS of token vectors (derived
    here by grouping 8 consecutive vec_ids into one pseudo-document), and
    score(q, d) = Σ over q's tokens of the MAX cosine against any of d's
    tokens. Top-3 documents per query (4 query docs), self-matches
    excluded.

    Determinism: each token-pair cosine is quantized to 1e4 integer units
    (the davg_lnsafe discipline for free doubles — a cross-engine ulp
    divergence would need to land within ~1e-15 of a 0.5e-4 boundary);
    MAX and the MaxSim sum then run in exact int64, the ranking compares
    exact integers with d_did tiebreak, and the emitted score descales
    through the decimal path.

    Scale: the query side of a late-interaction system is always bounded
    (the live query batch) — it broadcasts; the doc-token side streams
    through ONE hash agg keyed by (q_did, d_did, q_tok) after a
    broadcast-join tokens×query-tokens pass (O(|doc tokens| · |q tokens|)
    map work, no doc×doc pass, no shuffle of raw vectors beyond the
    grouped partials). The 100 TB path composes with sim_ann_ivf: probe
    cells first, MaxSim only the candidates."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") / 8).cast("bigint").alias("did"),
        (F.col("vec_id") % 8).alias("tok"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    q = emb.where(F.col("did") < 4).select(
        F.col("did").alias("q_did"), F.col("tok").alias("q_tok"),
        F.col("v").alias("qv"),
    )
    cos_q4 = (
        "cast(round(aggregate(zip_with(qv, v, (x, y) -> x * y), 0d,"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(qv, 0d, (acc, x) -> acc + x * x))"
        "    * sqrt(aggregate(v, 0d, (acc, x) -> acc + x * x)))"
        " * 10000) as bigint)"
    )
    tokmax = (
        emb.join(F.broadcast(q), F.col("did") != F.col("q_did"))
        .select("q_did", F.col("did").alias("d_did"), "q_tok", F.expr(cos_q4).alias("c4"))
        .groupBy("q_did", "d_did", "q_tok")
        .agg(F.max("c4").alias("max_sim_q4"))
    )
    score = tokmax.groupBy("q_did", "d_did").agg(
        F.sum("max_sim_q4").alias("maxsim_q4"), F.count("*").alias("n_qtok")
    )
    w = Window.partitionBy("q_did").orderBy(F.desc("maxsim_q4"), "d_did")
    return (
        score.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "q_did",
            "d_did",
            F.expr(
                "cast(cast(maxsim_q4 as decimal(38,4)) / 10000 as double)"
            ).alias("maxsim_score"),
            F.col("n_qtok").cast("bigint").alias("n_qtok"),
        )
    )


@query(
    "emb_dim_variance",
    oracle="""
    WITH x AS (
      SELECT cast(generate_subscripts(embedding, 1) - 1 AS int) AS dim,
             cast(round(cast(unnest(embedding) AS double) * 1000000)
                  AS bigint) AS xm
      FROM embeddings
    )
    SELECT dim, count(*) AS n,
           cast(sum(xm) AS double) / count(*) / 1000000 AS mean,
           (cast(sum(xm * xm) AS double) / count(*)
            - (cast(sum(xm) AS double) / count(*))
              * (cast(sum(xm) AS double) / count(*))) / 1000000000000
             AS variance
    FROM x GROUP BY dim
    """,
    cost=0.5,
)
def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding variance (round 6, staged r7) — the scree
    diagnostic: which of the 64 dimensions carry signal and which are
    dead (near-zero variance → truncation/quantization candidates;
    pairs with emb_pca_project and emb_truncate_renorm as the
    embedding-health family).

    Determinism: each component quantizes to exact 1e6 integers (float32
    → float64 → identical µ-ints both engines); Σx and Σx² are exact
    integer sums (x²≤9e12/row — hugeint in DuckDB, int64 in Spark to
    ~10^6 rows/dim, decimal(38,0) past that per the numeric ceiling
    protocol); mean/variance are then compositions of IEEE ops on
    engine-identical operands — no round() tie class.

    Scale: posexplode fans each row into 64 (dim, component) pairs —
    map-side — and ONE hash agg on the 64-value dim key holds six int64
    accumulators per group; output is O(dims). The same plan at any
    corpus size; the skew-free key is the dimension index itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.expr("transform(embedding, v -> cast(v as double))")).alias(
            "dim", "v"
        )
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.expr("cast(round(v * 1000000) as bigint)").alias("xm"),
    )
    n = F.count("*")
    s = F.sum("xm").cast("double")
    ss = F.sum(F.col("xm") * F.col("xm")).cast("double")
    mean_m = s / n
    return x.groupBy("dim").agg(
        n.alias("n"),
        (mean_m / 1000000.0).alias("mean"),
        ((ss / n - mean_m * mean_m) / 1e12).alias("variance"),
    )


@query(
    "emb_hamming_topk",
    oracle="""
    WITH sig AS (
      SELECT vec_id,
             list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 1] > 0
                         THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS w0,
             list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 33] > 0
                         THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS w1
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM sig WHERE vec_id % 64 = 0
    ), d AS (
      SELECT q.q_id, s.vec_id,
             bit_count(xor(s.w0, q.qw0)) + bit_count(xor(s.w1, q.qw1)) AS hamming,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY bit_count(xor(s.w0, q.qw0)) + bit_count(xor(s.w1, q.qw1)),
                        s.vec_id) AS rnk
      FROM sig s CROSS JOIN q
      WHERE s.vec_id <> q.q_id
    )
    SELECT q_id, cast(rnk AS int) AS rnk, vec_id, cast(hamming AS int) AS hamming
    FROM d WHERE rnk <= 5
    """,
    cost=0.5,
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binarized (sign-bit) Hamming top-k (round 6, staged r7): each
    64-dim float vector compresses to a 2x32-bit SIGN SIGNATURE (bit i =
    dim i > 0) — 16 bytes/vector, 16x smaller than float32 — and nearest
    neighbors rank by popcount(xor) Hamming distance, the standard
    billion-scale first-pass retrieval tier (binarized embeddings a la
    ITQ/simhash; rerank survivors with exact cosine = sim_cosine_topk).

    Every step is exact integer arithmetic so the op hash-matches its
    oracle end-to-end — the rare ANN family member with a full oracle
    (sim_ann_ivf/lsh are rows-only): signature packing is a sum of
    distinct powers of two decided by exact float comparisons on
    identical float32 values; Hamming is bit_count over int64 XOR —
    whole-stage codegen, no Python anywhere; ties break by vec_id.

    Scale: the query block (bounded: vec_id % 64 = 0) broadcasts; the
    candidate side streams — shuffle-free scan x 16-byte signatures, and
    the per-query top-5 collapses in the window group limit. At 100 TB
    the same plan holds with the simhash block-pigeonhole prefilter
    (dedup_simhash) bucketing candidates so each query touches only
    same-block signatures instead of the full scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    pack = (
        "aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> acc + "
        "IF(element_at(embedding, i + {off}) > 0, "
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    sig = emb.select(
        "vec_id",
        F.expr(pack.format(off=1)).alias("w0"),
        F.expr(pack.format(off=33)).alias("w1"),
    )
    q = sig.where(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    d = (
        sig.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "hamming",
            (
                F.bit_count(F.expr("w0 ^ qw0")) + F.bit_count(F.expr("w1 ^ qw1"))
            ).cast("int"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", F.col("rnk").cast("int").alias("rnk"), "vec_id", "hamming")
    )


# Product-quantization geometry: M subspaces × K codewords. M·log2(K)
# bits per vector (4 subspaces × 16 codewords = 4 bytes) replaces
# d float64s (512 bytes at d=64) in the index — a 128× shuffle/memory
# compression, which is what makes billion-vector ANN indexes fit at all.
_PQ_M = 4
_PQ_K = 16


def _train_pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    n_sub: int = _PQ_M,
    k: int = _PQ_K,
    n_iters: int = 5,
    max_sample: int = 4096,
) -> np.ndarray:
    """(n_sub, k, d/n_sub) PQ codebooks — per-subspace Lloyd k-means on the
    SAME bounded deterministic sample discipline as _train_centroids (the
    max_sample smallest xxhash64(vec_id) rows via TakeOrdered, init = first
    k sample subvectors in vec_id order, fixed iterations), so operators
    and tests recompute identical codebooks with driver memory capped at
    max_sample × dim float64 regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sample_pdf = (
        emb.orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(max_sample)
        .toPandas()
    )
    raw_ids, raw_mat = _normalized_matrix(sample_pdf)
    mat = raw_mat[np.argsort(raw_ids, kind="stable")]
    d = mat.shape[1]
    if d % n_sub:
        raise ValueError(f"embedding dim {d} not divisible by n_sub={n_sub}")
    sub = d // n_sub
    books = np.empty((n_sub, k, sub))
    for m in range(n_sub):
        s = mat[:, m * sub : (m + 1) * sub]
        cents = s[:k].copy()
        for _ in range(n_iters):
            # argmin ||s-c||² == argmin (-2 s·c + ||c||²); ties -> first
            d2 = -2.0 * (s @ cents.T) + (cents**2).sum(axis=1)[None, :]
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = s[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[m] = cents
    return books


def _pq_reconstruct(books: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Decode (n, M) int codes back to (n, d) float64 — concatenated
    per-subspace codewords, the x̂ whose dot with a query IS the ADC
    (asymmetric distance computation) score."""
    return np.concatenate(
        [books[m][codes[:, m]] for m in range(books.shape[0])], axis=1
    )


@query("sim_ann_pq", cost=1.5)  # rows-only: ANN recall is approximate by design
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 — `sim_ann_ivf`'s layout with the index
    side PRODUCT-QUANTIZED: vectors in the inverted cells are stored as
    M=4 codebook indexes (4 bytes) instead of 64 float64s, so the
    index shuffle and the per-cell resident set shrink ~128× while the
    probe plan (nprobe=2 nearest cells, cogroup join, per-cell top-5,
    global window top-5) stays identical. Scoring is ADC: the query stays
    full-precision and scores against the RECONSTRUCTED codeword vectors
    x̂ — computed per cell from the tiny broadcast codebooks, never
    shuffled — through the same pinned `_cell_topk` kernel as IVF.

    This is the standard billion-scale ANN architecture (coarse quantizer
    + PQ residual compression): at 100 TB of embeddings the raw vectors
    cannot live in executor memory, but M·log2(K) bits each can. The
    shipped variant quantizes the vector directly (not the cell residual)
    — the residual refinement drops in by subtracting the broadcast cell
    centroid before encoding and adding its dot back at score time, same
    plan shape.

    Rows-only by design (recall is approximate); the mechanism pin is the
    IVF one, re-based on x̂: output ≡ brute-force top-5 over ADC scores
    restricted to probed cells (tests/test_quality.py)."""
    nprobe, k = 2, 5
    cents = _train_centroids(spark, sf_dir)
    books = _train_pq_codebooks(spark, sf_dir)
    bc = spark.sparkContext.broadcast((cents, books))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, bk = bc.value
        n_sub, _, sub = bk.shape
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            cell = np.argmax(mat @ c.T, axis=1)
            codes = np.empty((len(ids), n_sub), dtype=np.int32)
            for m in range(n_sub):
                s = mat[:, m * sub : (m + 1) * sub]
                d2 = -2.0 * (s @ bk[m].T) + (bk[m] ** 2).sum(axis=1)[None, :]
                codes[:, m] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cell.astype(np.int32),
                    "code": list(codes),
                }
            )

    index = emb.mapInPandas(encode, schema="vec_id long, cell int, code array<int>")

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, _ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, mat = _normalized_matrix(pdf)
            sims = mat @ c.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "cell": top.ravel().astype(np.int32),
                    "embedding": list(np.repeat(mat, nprobe, axis=0)),
                }
            )

    q_df = emb.mapInPandas(
        probes, schema="vec_id long, cell int, embedding array<double>"
    )

    def cell_topk_fn(q_pdf: pd.DataFrame, i_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "nbr_id": [], "sim": []})
        if q_pdf.empty or i_pdf.empty:
            return empty
        _, bk = bc.value
        q_ids = q_pdf["vec_id"].to_numpy(dtype=np.int64)
        q_mat = np.vstack(q_pdf["embedding"].to_numpy())
        i_ids = i_pdf["vec_id"].to_numpy(dtype=np.int64)
        codes = np.vstack(i_pdf["code"].to_numpy()).astype(np.int64)
        recon = _pq_reconstruct(bk, codes)
        return _cell_topk(q_ids, q_mat, i_ids, recon, k)

    cands = (
        q_df.groupby("cell")
        .cogroup(index.groupby("cell"))
        .applyInPandas(cell_topk_fn, schema="vec_id long, nbr_id long, sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "sim")
        .orderBy("vec_id", F.desc("sim"), "nbr_id")
    )


# Matryoshka prefix dims: powers of two up to the contract embedding
# width (64). 64 is the full-precision truth row (recall 1 by identity).
# NOTE: duplicated as the VALUES row in emb_matryoshka_eval's oracle SQL
# (SQL needs literals) — change BOTH or the compare mismatches loudly.
_MRL_DIMS = (8, 16, 32, 64)


@query(
    "emb_matryoshka_eval",
    cost=2.5,
    oracle="""
    WITH p AS (
      SELECT * FROM (VALUES (8), (16), (32), (64)) AS t(prefix_dim)
    ), sims AS (
      SELECT p.prefix_dim, a.vec_id, b.vec_id AS nbr_id,
             round(list_cosine_similarity(
               list_transform(a.embedding[1:p.prefix_dim], x -> cast(x AS double)),
               list_transform(b.embedding[1:p.prefix_dim], x -> cast(x AS double))
             ), 6) AS sim
      FROM p CROSS JOIN embeddings a
      JOIN embeddings b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT prefix_dim, vec_id, nbr_id,
             row_number() OVER (
               PARTITION BY prefix_dim, vec_id ORDER BY sim DESC, nbr_id
             ) AS rn
      FROM sims
    ), tops AS (
      SELECT prefix_dim, vec_id, nbr_id FROM ranked WHERE rn <= 5
    ), truth AS (
      SELECT vec_id, nbr_id FROM tops WHERE prefix_dim = 64
    ), hits AS (
      SELECT t.prefix_dim, count(*) AS n_hits
      FROM tops t JOIN truth u USING (vec_id, nbr_id)
      GROUP BY 1
    ), tot AS (SELECT count(*) AS n_truth FROM truth)
    SELECT prefix_dim, n_hits, n_truth,
           round(n_hits * 1.0 / n_truth, 6) AS recall_at_5
    FROM hits, tot ORDER BY prefix_dim
    """,
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) prefix-dimension evaluation — how much top-5
    retrieval quality survives truncating embeddings to their first
    8/16/32 components, the measurement that decides how small a
    deployment can cut its vectors (truncate-and-renormalize is the MRL
    inference recipe; storage/flops drop linearly in the kept width).
    For each prefix width the exact top-5 per query runs over the
    RE-NORMALIZED prefix subspace through the same streamed blocked
    matmul as `sim_cosine_topk` (O(block) worker memory at any corpus
    size, truncation applied per Arrow block so the narrow width also
    SAVES flops); recall@5 counts overlap with the full-width truth set.
    One (prefix_dim, n_hits, n_truth, recall_at_5) row per width —
    counts are exact integers, recall derived from them.

    Oracle-graded: DuckDB reranks every pair per width via list slices —
    the 6dp-rounded (sim DESC, nbr_id) rank discipline is shared with
    `sim_cosine_topk`, so both engines break ties identically. FP-path
    note (ADVICE r14): the Spark kernel computes prefix cosine as
    normalize→truncate→renormalize while the oracle normalizes the raw
    prefix slice directly — mathematically identical (renormalizing a
    scaled vector), and the property suite pins the identity
    (tests/test_properties.py), but the extra per-component division
    slightly enlarges the 1-ulp exposure at a 6dp rank-boundary tie —
    the same accepted exposure class as sim_cosine_topk's libm dots.

    Scale: ONE streamed brute-force pass computing all four widths per
    query chunk (r17, guide §4: the r16 form ran four separate
    mapInPandas passes — four query-side scans, four repartitions, four
    Python stages; the per-width work is unchanged, each width still
    calls the pinned `_stream_topk_chunk` kernel with its own dim, but
    the Arrow boundary, the query normalization, and the OS-cached index
    stream are paid once — r17 measured 2.8-4.8 s (quiet-close /
    loaded-rig four-pass baselines) -> 1.4 s warm at sf0.1,
    oracle-identical). At corpus scale each width composes with the IVF/PQ
    index family instead — the eval harness shape (hit-count join
    against a truth frame) is `sim_recall_eval`'s, unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    path, _fingerprint = _index_location(sf_dir)
    dims = _MRL_DIMS

    def topk_all_dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            q_ids, q_full = _normalized_matrix(pdf)
            for lo in range(0, len(q_ids), _QUERY_CHUNK_ROWS):
                hi = lo + _QUERY_CHUNK_ROWS
                for d in dims:
                    # full width (dims[-1]) == the identity prefix: same
                    # kernel invocation the truth pass made with dim=None
                    out = _stream_topk_chunk(
                        q_ids[lo:hi],
                        _prefix_renormalize(q_full[lo:hi], d),
                        path,
                        5,
                        dim=d if d < q_full.shape[1] else None,
                    )
                    if len(out):
                        out.insert(0, "prefix_dim", d)
                        yield out[["prefix_dim", "vec_id", "nbr_id"]]

    # shared scan-fed spread guard (ADVICE r17: the inlined copy could
    # silently diverge from io.spread_single_split's threshold logic)
    queries_df = spread_single_split(emb.select("vec_id", "embedding"))
    tops = queries_df.mapInPandas(
        topk_all_dims, schema="prefix_dim int, vec_id long, nbr_id long"
    ).localCheckpoint()
    truth = tops.where(F.col("prefix_dim") == dims[-1]).select(
        "vec_id", "nbr_id"
    )
    hits = (
        tops.join(truth, ["vec_id", "nbr_id"])
        .groupBy("prefix_dim")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        hits.crossJoin(F.broadcast(totals))
        .select(
            "prefix_dim",
            "n_hits",
            "n_truth",
            F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall_at_5"),
        )
        .orderBy("prefix_dim")
    )
