"""Seeded input generator for the benchmark.

Writes parquet tables in the ``events`` / ``documents`` / ``embeddings``
schema of the repository's test data, plus the landing files a
streaming query picks up one per micro-batch. The same seed gives the
same bytes. Run on its own with

    python3 perfbench/gen.py --workload doc_curate --seed 7 --out .perfbench_work/inputs
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Input sizes per workload. Each op's time on this engine is mostly fixed
# per-job cost at these sizes; they are kept small so a run (the set-up,
# the cold pass, the timed pass) fits the benchmark's time budget.
SIZES = {
    # 30k ticks over 300 keys; plus 2 landing files of 2k ticks over 200
    # keys, one micro-batch each, for the streaming op
    "tick_replay": {"events": (30_000, 300), "landing": (2, 2_000, 200)},
    # 1200 docs, ~10% near duplicates; 2500 64-d vectors in 10 clusters
    "doc_curate": {"documents": 1_200, "embeddings": 2_500},
}


def _events(rng, n, users, t0_us, span_us, first_id=0):
    """``n`` ticks over ``users`` keys, strictly increasing ts; values have
    two decimals like the repository's test data, so sums are exact."""
    ts = t0_us + np.sort(rng.choice(span_us, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def events(rng, n, users):
    return _events(rng, n, users, START_US, 30 * DAY_US)


def landing(rng, out_dir, n_files, ticks_per_file, users):
    """Chronological drops: file i holds hour i, so every key's ticks stay
    time-ordered across micro-batches (the streaming ops' contract)."""
    os.makedirs(out_dir, exist_ok=True)
    hour = 3_600_000_000
    for i in range(n_files):
        t = _events(rng, ticks_per_file, users, START_US + i * hour, hour,
                    first_id=i * ticks_per_file)
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def documents(rng, n, vocab=3000, dup_share=0.1):
    """Zipf-vocabulary prose whose most frequent words are English stop
    words (the Gopher rules count them). ``dup_share`` of the docs are near copies of
    an earlier doc with two words replaced (word-5-shingle Jaccard about
    0.7, well above a 0.5 threshold); the rest share few 5-grams."""
    words = np.array(STOPWORDS + [_word(rng, i) for i in range(len(STOPWORDS), vocab)])
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(toks), size=2, replace=False):
                toks[j] = words[rng.integers(0, vocab)]
        else:
            toks = list(words[rng.choice(vocab, size=rng.integers(30, 90), p=p)])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _word(rng, i):
    letters = "etaoinshrdlucmfwypvbgkqjxz"
    n = 2 + int(rng.integers(0, 7))
    return "".join(letters[int(j)] for j in rng.integers(0, 26, n)) + str(i % 7)


def embeddings(rng, n, dim=64, clusters=10):
    """Unit-scale cluster centres plus noise; ``label`` is the cluster."""
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vec = (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out, seed, sizes):
    """Write every table ``sizes`` asks for under ``out``; returns paths."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = {}
    if "events" in sizes:
        n, users = sizes["events"]
        paths["events"] = os.path.join(out, "events.parquet")
        pq.write_table(events(rng, n, users), paths["events"])
    if "documents" in sizes:
        paths["documents"] = os.path.join(out, "documents.parquet")
        pq.write_table(documents(rng, sizes["documents"]), paths["documents"])
    if "embeddings" in sizes:
        paths["embeddings"] = os.path.join(out, "embeddings.parquet")
        pq.write_table(embeddings(rng, sizes["embeddings"]), paths["embeddings"])
    if "landing" in sizes:
        n_files, per_file, users = sizes["landing"]
        paths["landing"] = os.path.join(out, "landing")
        landing(rng, paths["landing"], n_files, per_file, users)
    return paths


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.out, a.seed, SIZES[a.workload]))
