"""Seeded input tables for the operator queries.

The queries read ``documents.parquet`` and ``embeddings.parquet`` from a
table directory. These are generated here from the workload seed with the
schema and statistics of the fixed gate tables (TESTDATA.md):
bag-of-words texts of 10 to 99 words over a 30-word vocabulary, 5% of
the docs replaced by the text of a random doc plus " dup" (so two
replacements that pick the same doc are exact duplicates), five languages
with English at about 40%, 20 sources in turn, and random unit embeddings
of width 64 with ten labels. perfbench/NOTES.md compares the two.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64


def write_gate_tables(out_dir: str, seed: int, n_docs: int, n_embeddings: int) -> None:
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    base = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n_docs)]
    texts = list(base)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = base[rng.integers(0, n_docs)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_embeddings, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_embeddings), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_embeddings), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
