"""Seeded benchmark inputs, generated with NumPy and written with pyarrow.

Nothing here touches the engine: every table the workloads read is a
pure function of the ``--seed`` argument, so two runs with one seed see
byte-identical files. The shapes follow the fixture tables the engine's
queries are written against (``documents`` and ``embeddings`` at sf0.1):

* ``documents``: 5,000 rows of 10-100 words from a 31-word vocabulary,
  five languages, twenty sources, plus a few exact and one-word-edit
  copies so the dedup jobs have real pairs to find;
* ``embeddings``: 2,000 unit vectors of dimension 64 in ten weakly
  clustered labels.

``write_copies`` stages a K-copy corpus by the rules of
``bench.stage_tier_dir``, but with pyarrow instead of Spark.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_DOCS = 5_000
N_VECS = 2_000
N_LABELS = 10
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
SCORERS = ("dot", "cosine", "l2")
DUP_FRAC = 0.02  # share of documents that copy an earlier one

# Key shift per copy, with the same per-table multipliers as
# bench.stage_tier_dir: copies never collide on a key, and labels move
# by 100 per copy, so blocked self-joins grow linearly with K.
SHIFT = 10_000_000_000
DOC_ID_MULT = 5
VEC_ID_MULT = 6
LABEL_SHIFT = 100

# Each stream of random numbers gets its own child seed, so adding a
# draw to one workload never changes the inputs of another.
_STREAM_IDS = {"documents": 1, "embeddings": 2, "search": 3}


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM_IDS[stream]])


def unit_vectors(r: np.random.Generator, n: int, labels: np.ndarray) -> np.ndarray:
    """``n`` float32 unit vectors, each pulled slightly toward its
    label's centre (the fixture's labels are weak clusters)."""
    centres = np.random.default_rng(0).normal(size=(N_LABELS, DIM))
    v = r.normal(size=(n, DIM)) + 0.6 * centres[labels % N_LABELS]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def documents_table(seed: int) -> pa.Table:
    r = rng(seed, "documents")
    texts = []
    for _ in range(N_DOCS):
        words = r.choice(VOCAB, size=int(r.integers(10, 101)))
        texts.append(" ".join(words))
    n_dup = int(N_DOCS * DUP_FRAC)
    for i in r.choice(np.arange(N_DOCS // 2, N_DOCS), size=n_dup, replace=False):
        words = texts[int(r.integers(0, N_DOCS // 2))].split()
        if r.random() < 0.5:  # near copy: one word replaced
            words[int(r.integers(0, len(words)))] = str(r.choice(VOCAB))
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(r.choice(LANGS, size=N_DOCS, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def vectors_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def embeddings_arrays(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = rng(seed, "embeddings")
    labels = r.integers(0, N_LABELS, size=N_VECS).astype(np.int32)
    return np.arange(N_VECS, dtype=np.int64), unit_vectors(r, N_VECS, labels), labels


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_base(seed: int, out_dir: str) -> dict[str, int]:
    """The sf0.1-shaped ``documents`` and ``embeddings`` files; returns
    bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    return {
        "documents": write_table(
            documents_table(seed), os.path.join(out_dir, "documents.parquet")
        ),
        "embeddings": write_table(
            vectors_table(*embeddings_arrays(seed)),
            os.path.join(out_dir, "embeddings.parquet"),
        ),
    }


_WORD = re.compile(r"(\S+)")


def copies(table: pa.Table, name: str, k: int) -> pa.Table:
    """``k`` shifted copies of one table, by bench.stage_tier_dir's
    rules: keys shift in lockstep per copy, copy ``i`` > 0 of a
    document tags every word with ``c{i}`` (so shingle sets are disjoint
    across copies and dedup is K independent sub-corpora), and copy
    ``i`` of an embedding moves its label by ``i * 100``."""
    parts = []
    for i in range(k):
        cols = {c: table.column(c) for c in table.column_names}
        if name == "documents":
            cols["doc_id"] = pa.array(
                table.column("doc_id").to_numpy() + i * DOC_ID_MULT * SHIFT
            )
            if i:
                cols["text"] = pa.array(
                    [_WORD.sub(rf"c{i}\1", t) for t in table.column("text").to_pylist()],
                    pa.string(),
                )
        elif name == "embeddings":
            cols["vec_id"] = pa.array(
                table.column("vec_id").to_numpy() + i * VEC_ID_MULT * SHIFT
            )
            cols["label"] = pa.array(
                table.column("label").to_numpy() + i * LABEL_SHIFT, pa.int32()
            )
        else:
            raise KeyError(name)
        parts.append(pa.table(cols, schema=table.schema))
    return pa.concat_tables(parts)


def write_copies(base_dir: str, out_dir: str, k: int) -> dict[str, int]:
    """Stage the K-copy corpus of ``documents`` and ``embeddings``;
    returns bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in ("documents", "embeddings"):
        base = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        sizes[name] = write_table(
            copies(base, name, k), os.path.join(out_dir, f"{name}.parquet")
        )
    return sizes


def search_requests(seed: int, n: int) -> tuple[np.ndarray, list[str]]:
    """``n`` query vectors (float64, as a client would send them) and
    the scorer each request uses: the reference's dot product, cosine
    and L2, in seeded order within each block of three, so that every
    seed sends the same mix."""
    r = rng(seed, "search")
    q = r.normal(size=(n, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    blocks = [r.permutation(SCORERS) for _ in range(-(-n // len(SCORERS)))]
    return q, [str(m) for m in np.concatenate(blocks)[:n]]
