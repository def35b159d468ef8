"""Seeded document/embedding corpus for the ``corpus_curate`` workload,
and the relabeller that turns it into a fresh corpus per operation.

``write_corpus`` draws the base corpus from the seed in the shape the
program's dedup/text/similarity operators are written against: short
texts over a small vocabulary, about 5% near-duplicate documents (a
copy of an earlier document plus one token), and 64-d embeddings
spread evenly over the sphere with random labels, as in the sf0.1
corpus, plus about 3% near-duplicate vectors.

``relabel`` rewrites a base corpus with new document and vector ids
through a seeded, strictly increasing map. Order is kept, so every
answer of the curation chain on the relabelled corpus equals the
answer on the base corpus with the ids mapped: the duplicate structure
and the amount of work are the same, while the files, their
fingerprints and every id are new, so per-corpus memos build cold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])
_DIM = 64


@dataclass(frozen=True)
class IdMap:
    """new_id = offset + old_id * stride (strictly increasing)."""

    offset: int
    stride: int

    def forward(self, ids):
        return self.offset + np.asarray(ids, dtype=np.int64) * self.stride

    def inverse(self, ids):
        return (np.asarray(ids, dtype=np.int64) - self.offset) // self.stride


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 1.0, (n_vecs, _DIM))
    for i in range(20, n_vecs):
        if rng.random() < 0.03:  # near-duplicate of an earlier vector
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(0.0, 0.01, _DIM)
            labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))


def relabel(seed: int, base_dir: str, out_dir: str) -> tuple[IdMap, IdMap]:
    """Write the base corpus under ``out_dir`` with seeded new ids;
    return the (doc, vec) id maps."""
    rng = np.random.default_rng(seed)
    doc_map = IdMap(int(rng.integers(1, 10**9)), int(rng.integers(1, 1000)))
    vec_map = IdMap(int(rng.integers(1, 10**9)), int(rng.integers(1, 1000)))
    os.makedirs(out_dir, exist_ok=True)
    for name, col, idmap in (
        ("documents", "doc_id", doc_map),
        ("embeddings", "vec_id", vec_map),
    ):
        t = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        i = t.schema.get_field_index(col)
        new_ids = pa.array(idmap.forward(pc.cast(t[col], pa.int64()).to_numpy()))
        pq.write_table(t.set_column(i, col, new_ids), os.path.join(out_dir, f"{name}.parquet"))
    return doc_map, vec_map
