#!/usr/bin/env python3
"""Seeded text corpus for the `mr_corpus` workload.

Writes `<out>/documents.parquet/part-NNNNN.parquet` in the `documents` schema
(doc_id, text, lang, source, n_chars) and `<out>/manifest.json` with the
corpus size in MB, documents, tokens and distinct words. Words are lowercase
letters only, drawn from a Zipf law over a large vocabulary; document lengths
follow a log-normal spread. The same seed gives the same bytes.

Usage: python3 perfbench/corpus.py <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sized so that plan building stays about a tenth of a warm query, while six
# passes of the four corpus queries fit in a run (see perfbench/README.md).
PARAMS = {
    "files": 16,
    "docs": 32000,
    "tokens": 450_000,
    "vocabulary": 200_000,
    "zipf_s": 1.05,
    "doc_len_sigma": 0.9,
}
LANGS = ["en", "de", "fr", "es", "zh", "ja"]


def _vocabulary(rng, size):
    """`size` distinct lowercase words; frequent ranks get short words."""
    words, seen = [], set()
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    while len(words) < size:
        n = size - len(words)
        rank = len(words) + np.arange(n)
        lengths = np.clip((2 + np.log2(rank + 2) * 0.6
                           + rng.integers(0, 4, n)).astype(int), 2, 14)
        for ln in lengths:
            w = letters[rng.integers(0, 26, ln)].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def generate(seed, out_dir):
    p = PARAMS
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, p["vocabulary"])
    ranks = np.arange(1, p["vocabulary"] + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -p["zipf_s"])
    cdf /= cdf[-1]
    lengths = rng.lognormal(0.0, p["doc_len_sigma"], p["docs"])
    lengths = np.maximum(1, np.round(lengths / lengths.sum() * p["tokens"])).astype(np.int64)
    ids = np.searchsorted(cdf, rng.random(int(lengths.sum())))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[ids[bounds[d]:bounds[d + 1]]]) for d in range(p["docs"])]

    table_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(table_dir, exist_ok=True)
    per_file = -(-p["docs"] // p["files"])
    for f in range(p["files"]):
        lo, hi = f * per_file, min(p["docs"], (f + 1) * per_file)
        chunk = texts[lo:hi]
        table = pa.table({
            "doc_id": pa.array(np.arange(lo, hi), pa.int64()),
            "text": pa.array(chunk, pa.string()),
            "lang": pa.array([LANGS[(d * 7) % len(LANGS)] for d in range(lo, hi)], pa.string()),
            "source": pa.array([f"src{d % 5}" for d in range(lo, hi)], pa.string()),
            "n_chars": pa.array([len(t) for t in chunk], pa.int64()),
        })
        pq.write_table(table, os.path.join(table_dir, f"part-{f:05d}.parquet"))
    manifest = {
        "seed": seed,
        "params": p,
        "text_mb": sum(len(t) for t in texts) / 1e6,
        "docs": p["docs"],
        "files": p["files"],
        "tokens": int(lengths.sum()),
        "distinct_words": int(np.unique(ids).size),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])))
