"""Deterministic generator for the tables the `pairwise_kernels` queries
read.

The `documents` and `embeddings` tables follow the schemas of the engine's
test data, one parquet file and one row group each. The generator seed is
fixed, so every checkout generates byte-identical inputs and the expected
result digests in `expected.json` stay valid; the benchmark's `--seed`
varies only the pass order and the generated `populate_waves` chunks.

Usage: python3 perfbench/datagen.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# Row counts, well below the sf0.1 test tables so that a whole run fits in
# about a minute on four cores: the pairwise kernels grow with the square of
# the row count.
ROWS = {"documents": 600, "embeddings": 700}
EMBED_DIM = 64
N_LABELS = 10
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the a key scan batch agg query sink").split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]


def documents(rng, n):
    """Random word streams over a 31-word vocabulary; every 25th document is
    a near-clone (one word changed) of an earlier one, so the MinHash and
    PPJoin kernels have true pairs to find beside the background."""
    texts = []
    for i in range(n):
        if i % 25 == 24:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n):
    """Unit vectors scattered around one centroid per label."""
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centroids[labels] * 0.35 + rng.normal(size=(n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = {"documents": documents(rng, ROWS["documents"]),
              "embeddings": embeddings(rng, ROWS["embeddings"])}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)


if __name__ == "__main__":
    main(sys.argv[1])
