#!/usr/bin/env python3
"""Seeded documents/embeddings corpus for the `corpus_curate` workload.

Same schema and statistical shape as `scripts/gen_sf.py` (the repo's
scale generator): int64 ids, 10..100-word texts over a shared ~30-word
vocabulary, an 8:1:1:1:1 language mix, 20 sources, ~5% planted
near-duplicate documents (an earlier text plus " dup"), 64-dim
unit-normalised float32 vectors with ~3% planted near-duplicates.
Only the two tables the curation operators read are written.

Usage: gen_corpus.py <seed> <scale-vs-sf0.1> <outdir>

Writes `documents.parquet`, `embeddings.parquet` and `truth.json`
(row counts and the planted duplicate ids, which the harness checks
the corpus against before it times anything).
"""
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector join customer the").split()
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
DIM, N_LABELS = 64, 10
DUP_RATE = 0.05


def generate(seed: int, scale: float, out: str) -> dict:
    n_docs, n_vecs = int(5000 * scale), int(2000 * scale)
    rng = random.Random(seed)
    texts, langs, sources, dup_docs = [], [], [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_RATE:
            texts.append(texts[rng.randrange(i)] + " dup")
            dup_docs.append(i)
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
        langs.append(rng.choice(LANGS))
        sources.append(f"src{rng.randrange(20)}")
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet", row_group_size=50_000)

    labels = [rng.randrange(N_LABELS) for _ in range(n_vecs)]
    vecs, dup_vecs = [], []
    for i in range(n_vecs):
        if i % 33 == 32:
            v = [x + rng.gauss(0, 0.05) for x in vecs[-1]]
            dup_vecs.append(i)
        else:
            v = [rng.gauss(0, 1.0) for _ in range(DIM)]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / nrm for x in v])
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet", row_group_size=100_000)

    truth = {"seed": seed, "scale": scale, "n_docs": n_docs, "n_vecs": n_vecs,
             "n_chars_total": sum(len(t) for t in texts),
             "planted_dup_docs": dup_docs, "planted_dup_vecs": dup_vecs}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


if __name__ == "__main__":
    generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
