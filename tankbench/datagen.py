"""Seeded generator for the crawl tables the crawl-curation workload reads.

Writes documents.parquet and embeddings.parquet with the schemas and value
domains the text, vector and curation builders expect (see FIXTURES.md at
the repo root): a bag-of-words crawl corpus with planted near-copies and
exact copies, and unit-norm 64-d embeddings.

Row counts scale linearly with `sf` (sf 0.01 gives 500 documents and 200
embeddings). The same (sf, seed) always gives byte-identical tables.

Usage: python3 datagen.py OUT_DIR SF SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5% near-copies of an earlier document with one token swapped for
    # "dup", and a handful of verbatim copies: what the dedup entries find
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        src = out[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        out[i] = " ".join(src)
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        out[i] = out[int(rng.integers(0, i))]
    return out


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)

    texts = _texts(rng, n_doc)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
