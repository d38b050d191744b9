"""Seeded inputs for the dedup workload and for the direct layer calls.

The program under test receives only the files written here. Each input
also carries the ground truth its output check needs (`truth.json`),
which the program never reads.

    python3 perfbench/gen.py <dedup|probe> <seed> <dir>

`probe` writes a small corpus and a vector set for the direct layer calls
of a traced run.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus shape. Base documents are random word sequences over a small
# vocabulary (like the testdata `documents` table), so two base documents
# never come near the 0.7 shingle-Jaccard threshold. Duplicates are planted
# on top of them: exact copies, and near copies that delete words.
VOCAB = (
    "a batch big column data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table value window agg "
    "index shard page file block cache plan stage task job shuffle spill write "
    "read codec footer schema field struct array map null time event record "
    "node edge graph vector cell probe rank score bucket band token text"
).split()
BASE_DOCS = 1200
EXACT_DUPS = 150
NEAR_DUPS = 250
SHARDS = 4
NEAR_MIN_JACCARD = 0.8

# Vector set shape: a Gaussian mixture, 2,000 x 64-d like the testdata
# `embeddings` table; queries are perturbed corpus vectors with ids apart
# from the corpus ids.
VECTORS = 2000
DIM = 64
CLUSTERS = 16
BATCH_QUERIES = 10
QUERY_ID_BASE = 1_000_000


def shingles(words):
    if len(words) < 3:
        return {" ".join(words)}
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_dedup(rng, out, base_docs=BASE_DOCS, exact_dups=EXACT_DUPS, near_dups=NEAR_DUPS):
    texts = [list(rng.choice(VOCAB, size=rng.integers(48, 128))) for _ in range(base_docs)]
    sources = []  # planted doc index -> base doc index
    for _ in range(exact_dups):
        b = int(rng.integers(base_docs))
        texts.append(list(texts[b]))
        sources.append(b)
    for _ in range(near_dups):
        b = int(rng.integers(base_docs))
        words = list(texts[b])
        # deletions only: the copy is strictly shorter, so the base document
        # stays its cluster's keeper (longest text wins)
        for _ in range(int(rng.integers(1, 4))):
            cand = list(words)
            del cand[int(rng.integers(len(cand)))]
            if jaccard(texts[b], cand) < NEAR_MIN_JACCARD:
                break
            words = cand
        if words == texts[b]:
            del words[int(rng.integers(len(words)))]
        texts.append(words)
        sources.append(b)
    n = len(texts)
    # planted copies get ids above every base id, so ties on length (exact
    # copies) resolve to the base document too
    order = rng.permutation(n)
    body = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(body),
        "lang": pa.array([("en", "de", "fr", "zh", "es")[i % 5] for i in range(n)]),
        "source": pa.array([f"src{i % 10}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in body], type=pa.int64()),
    }).take(pa.array(order))
    os.makedirs(f"{out}/docs", exist_ok=True)
    step = -(-n // SHARDS)
    for s in range(SHARDS):
        pq.write_table(table.slice(s * step, step), f"{out}/docs/shard-{s:05d}.parquet")
    planted = {str(base_docs + i): b for i, b in enumerate(sources)}
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"docs": n, "planted": planted}, f)


def gen_vectors(rng, out):
    centers = rng.normal(size=(CLUSTERS, DIM))
    labels = rng.integers(CLUSTERS, size=VECTORS)
    vecs = (centers[labels] + 0.6 * rng.normal(size=(VECTORS, DIM))).astype(np.float32)
    picks = rng.integers(VECTORS, size=BATCH_QUERIES)
    queries = (vecs[picks] + 0.3 * rng.normal(size=(BATCH_QUERIES, DIM))).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=emb_type),
        "label": pa.array(labels.astype(np.int32)),
    }), f"{out}/corpus.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(QUERY_ID_BASE + np.arange(BATCH_QUERIES, dtype=np.int64)),
        "embedding": pa.array(list(queries), type=emb_type),
    }), f"{out}/queries.parquet")


def gen_probe(rng, out):
    gen_dedup(rng, out, base_docs=300, exact_dups=40, near_dups=60)
    gen_vectors(rng, out)


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    rng = np.random.default_rng(seed)
    {"dedup": gen_dedup, "probe": gen_probe}[workload](rng, out)


if __name__ == "__main__":
    main()
