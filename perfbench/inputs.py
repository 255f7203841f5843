"""Seeded inputs for the benchmark workloads.

Two layers of randomness, kept apart on purpose:

- The *corpus* (the document table the engine reconstructs curves from) is
  fixed per scale: it is generated from a constant corpus seed, so the
  pinned self-join counts in ``checks.PINNED`` hold for every run.
  Shape follows the repository's synthetic test corpus: 10..100
  whitespace tokens per document drawn uniformly from a 30-word
  vocabulary, i.e. curves of 11..101 points (median ~55).
- Everything the ``--seed`` argument controls (row permutation, the
  interactive base/held-out split, the operation sequence and every query
  sample) comes from ``numpy.random.Generator(PCG64(seed))`` streams in
  the functions below. The engine receives only the generated tables.

``python3 perfbench/selftest.py`` checks that one seed gives
byte-identical inputs and that different seeds give different ones.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")

# scale name -> (documents, constant corpus seed)
CORPORA = {"sf0.1": (5000, 42), "sf0.01": (500, 4201)}

EPS = 15.0
MESH = 15.0
K = 5

# interactive: the operation mix and sizes (seeded sequence, closed loop)
RANGE_BATCH = 10
KNN_BATCH = 4
APPEND_DOCS = 5
HELD_OUT_FRAC = 0.10
BLOCK = ("range", "range", "knn", "append")
WARMUP = ("range", "knn", "append")
# knn workload: queries per knn_frechet call, and how many of them the
# output check ranks exhaustively
KNN_QUERIES = 8
KNN_CHECKED = 2


def documents(scale: str):
    """The fixed document table of ``scale`` as a pandas DataFrame with the
    streaming-ingest schema (doc_id, text, lang, source, n_chars)."""
    import pandas as pd

    n, corpus_seed = CORPORA[scale]
    rng = np.random.Generator(np.random.PCG64(corpus_seed))
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [
        " ".join(VOCAB[w] for w in words[e - ln : e]) for e, ln in zip(ends, lens)
    ]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding a draw to
    one input never shifts another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def selfjoin_inputs(seed: int) -> dict:
    """Row order of the sf0.1 documents handed to the engine. A permutation
    leaves the self-join result set unchanged."""
    n, _ = CORPORA["sf0.1"]
    return {"order": _rng(seed, "selfjoin.order").permutation(n)}


def interactive_inputs(seed: int, n_blocks: int = 100) -> dict:
    """Base/held-out split of the sf0.01 documents, untimed warm-up
    operations and a seeded operation sequence. The sequence is made of blocks, each a
    seeded order of BLOCK, so every stretch of it has the same mix. A range
    op carries RANGE_BATCH query doc ids and a knn op KNN_BATCH, drawn from
    the base ids; an append op takes the next APPEND_DOCS held-out ids (an
    append with none left becomes a range op). The client consumes the
    sequence from the start until its time is up."""
    n, _ = CORPORA["sf0.01"]
    ids = _rng(seed, "interactive.split").permutation(n)
    n_held = int(round(n * HELD_OUT_FRAC))
    base, held = np.sort(ids[n_held:]), ids[:n_held]
    rng = _rng(seed, "interactive.ops")

    next_held = 0

    def op(kind):
        nonlocal next_held
        if kind == "append" and next_held < n_held:
            next_held += APPEND_DOCS
            return {"kind": "append", "docs": held[next_held - APPEND_DOCS : next_held]}
        kind = "range" if kind == "append" else str(kind)
        size = RANGE_BATCH if kind == "range" else KNN_BATCH
        return {"kind": kind, "docs": np.sort(rng.choice(base, size, replace=False))}

    warmup = [op(kind) for kind in WARMUP]
    ops = [op(kind) for _ in range(n_blocks) for kind in rng.permutation(BLOCK)]
    return {"base": base, "held": held, "warmup": warmup, "ops": ops}


def knn_inputs(seed: int, n_batches: int = 64) -> dict:
    """Query samples for the knn workload: an untimed warm-up batch, then
    batches of KNN_QUERIES distinct sf0.1 doc ids."""
    n, _ = CORPORA["sf0.1"]
    rng = _rng(seed, "knn.queries")
    batches = [np.sort(rng.choice(n, KNN_QUERIES, replace=False)) for _ in range(n_batches + 1)]
    return {"warmup": batches[0], "batches": batches[1:]}


def check_sample(seed: int, population: np.ndarray, size: int, stream: str) -> np.ndarray:
    """Seeded sample of ``population`` for an output check."""
    rng = _rng(seed, f"check.{stream}")
    return np.sort(rng.choice(population, min(size, len(population)), replace=False))


def fingerprint(obj) -> str:
    """SHA-256 of a canonical byte encoding of nested dicts/lists/arrays."""

    def canon(o):
        if isinstance(o, np.ndarray):
            return {"dtype": str(o.dtype), "data": o.tolist()}
        if isinstance(o, dict):
            return {k: canon(v) for k, v in sorted(o.items())}
        if isinstance(o, (list, tuple)):
            return [canon(v) for v in o]
        if isinstance(o, np.generic):
            return o.item()
        return o

    return hashlib.sha256(json.dumps(canon(obj), sort_keys=True).encode()).hexdigest()
