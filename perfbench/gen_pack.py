"""Seeded generator for the curation_pack inputs.

Writes `documents` and `embeddings` parquet tables shaped like graft's
test fixtures: documents over a 30-word vocabulary, 5% of them near
duplicates (an earlier document's text plus " dup"), and unit-norm
64-dimensional float32 embeddings in ten weakly separated labelled
clusters. The same seed always gives byte-identical tables.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DOCS = 500
VECTORS = 500
DIM = 64
LABELS = 10


def documents(rng):
    dups = set(rng.choice(np.arange(11, DOCS), DOCS * 5 // 100, replace=False).tolist())
    texts = []
    for i in range(DOCS):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, DOCS, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng):
    centers = rng.normal(0.0, 0.6, (LABELS, DIM))
    labels = rng.integers(0, LABELS, VECTORS)
    x = rng.normal(0.0, 1.0, (VECTORS, DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write(seed, out_dir):
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng), f"{out_dir}/documents.parquet")
    pq.write_table(embeddings(rng), f"{out_dir}/embeddings.parquet")
