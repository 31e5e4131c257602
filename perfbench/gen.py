"""Input generation for the benchmark.

Two kinds of input, both written under a run's private directory:

- `write_tables`: the ten contract tables at a given scale factor, with the
  schemas and value domains of the engine's test data (uniform TPC-H-like
  keys and measures, an `events` stream, a 31-word document corpus with ~5%
  "dup"-suffixed near-copies, unit-norm 64-d embeddings). The tables use a
  FIXED data seed, so the op costs `calibrate.py` records in `pools.json`
  stay valid; the workload seed only picks the order the ops run in.
- `FmCorpus`: the fm_make inputs, built from the generated documents with the
  workload seed: a directory of text files (one document per line) and a
  parquet corpus that arrives in batches, plus seeded deltas to both.

numpy + pyarrow only; no Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _days(rng, n, start, stop):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_documents(rng, n: int) -> pa.Table:
    """`n` documents of 10-100 uniform words; ~5% are near-copies (an
    earlier document plus " dup")."""
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def write_tables(out_dir: str, sf: float) -> None:
    """Write the contract tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    adjectives = "blue cold hot red small new old large".split()
    nouns = "ring plate gear rod bolt anvil widget gizmo".split()
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": _pick(
                    rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = make_documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class FmCorpus:
    """The fm_make inputs under `root`, driven by the workload seed.

    - `root/text/part-NNN.txt`: text files, one document per line;
    - `root/corpus/documents.parquet/batch-NNN.parquet`: the corpus, one
      parquet file per arriving batch (a valid `sf_dir` for the text ops,
      and the input directory of the streamed dedup ingest).

    Every document comes from the generated `documents` table (plus seeded
    near-copies for the dedup to find); `lines()` and `docs()` return what
    is on disk so the checks can recount independently of the engine."""

    def __init__(self, root: str, documents: pa.Table, seed: int, n_files: int, batch_docs: int):
        self.root = root
        self.text_dir = os.path.join(root, "text")
        self.corpus_dir = os.path.join(root, "corpus")
        self.batch_dir = os.path.join(self.corpus_dir, "documents.parquet")
        self.rng = np.random.default_rng(seed)
        self.texts = documents.column("text").to_pylist()
        self.batch_docs = batch_docs
        self.n_batches = 0
        self.next_id = 0
        self.bytes_added = 0
        self._files: dict[str, list[str]] = {}
        self._docs: list[tuple[int, str]] = []
        os.makedirs(self.text_dir)
        os.makedirs(self.batch_dir)
        for _ in range(n_files):
            self._write_file(self._new_name(), self._sample_lines(int(self.rng.integers(20, 60))))

    def _sample_lines(self, n: int) -> list[str]:
        return [self.texts[i] for i in self.rng.integers(0, len(self.texts), n)]

    def _new_name(self) -> str:
        return f"part-{len(self._files):03d}.txt"

    def _write_file(self, name: str, lines: list[str], append: bool = False) -> None:
        payload = "".join(line + "\n" for line in lines)
        with open(os.path.join(self.text_dir, name), "a" if append else "w") as f:
            f.write(payload)
        self._files.setdefault(name, []).extend(lines)
        self.bytes_added += len(payload.encode())

    def add_batch(self) -> int:
        """Append one corpus batch: sampled texts, some repeated within the
        batch or from earlier batches, so the dedup has work across batches."""
        n = self.batch_docs
        texts = self._sample_lines(n)
        for i in np.flatnonzero(self.rng.random(n) < 0.08):
            pool = [t for _, t in self._docs] + texts[:i]
            if pool:
                texts[i] = pool[int(self.rng.integers(0, len(pool)))] + " dup"
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": _pick(self.rng, LANGS, n, LANG_P),
                "source": pa.array([f"src{i}" for i in self.rng.integers(0, 20, n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            },
            schema=DOC_SCHEMA,
        )
        path = os.path.join(self.batch_dir, f"batch-{self.n_batches:04d}.parquet")
        pq.write_table(table, path)
        self.n_batches += 1
        self._docs.extend(zip(ids, texts))
        self.bytes_added += os.path.getsize(path)
        return n

    def delta(self) -> dict[str, int]:
        """One seeded delta: append to 1-4 existing text files or add one new
        file, then add a corpus batch."""
        touched = 0
        if self.rng.random() < 0.7:
            names = sorted(self._files)
            for j in self.rng.choice(len(names), int(self.rng.integers(1, 5)), replace=False):
                self._write_file(names[j], self._sample_lines(int(self.rng.integers(2, 8))), True)
                touched += 1
        else:
            self._write_file(self._new_name(), self._sample_lines(int(self.rng.integers(20, 60))))
            touched = 1
        return {"files_touched": touched, "docs_added": self.add_batch()}

    def lines(self) -> list[str]:
        return [line for name in sorted(self._files) for line in self._files[name]]

    def docs(self) -> list[tuple[int, str]]:
        return list(self._docs)
