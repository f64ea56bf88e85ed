#!/usr/bin/env python3
"""Write an llm_batch-shaped corpus for LlmScalePoint's `llm_pass` sweep.

The same shape as the perfbench `llm_batch` corpus: documents of 40-79
words, three in four drawn from a seeded 4,000-word synthetic
vocabulary (3-8 random letters) and one in four an English stopword,
plus seeded Gaussian 64-d vectors. Unlike the sf fixtures, whose text
comes from a small vocabulary and compresses well, this text is close
to incompressible, so the same file size holds fewer documents.

Usage: python3 tools/gen_llm_corpus.py <out_dir> [docs] [vectors] [seed]
(defaults 750 docs, 600 vectors, seed 1: one llm_batch pass's history
and vectors). Writes <out_dir>/documents.parquet (doc_id, text) and
<out_dir>/embeddings.parquet (vec_id, embedding).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

out = sys.argv[1]
docs = int(sys.argv[2]) if len(sys.argv) > 2 else 750
vectors = int(sys.argv[3]) if len(sys.argv) > 3 else 600
rnd = np.random.default_rng(int(sys.argv[4]) if len(sys.argv) > 4 else 1)

stopwords = ["the", "a", "of", "and", "to", "in", "is", "that"]
vocab = ["".join(chr(97 + c) for c in rnd.integers(0, 26, 3 + rnd.integers(0, 6)))
         for _ in range(4000)]


def word():
    if rnd.integers(0, 4) == 0:
        return stopwords[rnd.integers(0, len(stopwords))]
    return vocab[rnd.integers(0, len(vocab))]


texts = [" ".join(word() for _ in range(40 + rnd.integers(0, 40))) for _ in range(docs)]
os.makedirs(out, exist_ok=True)
pq.write_table(pa.table({"doc_id": pa.array(range(docs), pa.int64()),
                         "text": texts}), f"{out}/documents.parquet")
vecs = rnd.standard_normal((vectors, 64))
pq.write_table(pa.table({"vec_id": pa.array(range(vectors), pa.int64()),
                         "embedding": [list(v) for v in vecs]}),
               f"{out}/embeddings.parquet")
print(f"wrote {out}: {docs} docs, {vectors} vecs")
