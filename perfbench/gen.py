"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and draws from its own
``numpy.random.Generator``, so the same seed and parameters give the same
table, and ``write_parquet`` gives the same file bytes. The program under
test only ever sees the written parquet files.

Input properties the engine's behaviour depends on:

- ``points``: ``hotspot_share``, a parameter — the share of points drawn
  from one dense cluster (spatial skew on the tile/cell keys).
- ``documents``: no clones of their own. The gate fixtures the workloads
  feed them to add clones by fixed doc_id rules, and the workloads record
  the shares those rules give.
- ``documents``: ids 0 … n-1. The image fixture derives caption groups and
  phashes from the id (``doc_id div 3``), so every caption group is
  complete and the phash hamming chains are at their densest.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the word list of the repository's synthetic documents table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
HOTSPOT_SIGMA_M = 4000.0  # spread of the hotspot cluster, in grid meters
MIN_WORDS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so changing one table's size does
    # not shift the draws of another
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def points(seed: int, n: int, bbox, hotspot_share: float) -> pa.Table:
    """(pid, x, y): ``hotspot_share`` of the points around one seeded centre,
    the rest uniform over ``bbox``; every point lies inside ``bbox``."""
    rng = _rng(seed, "points")
    minx, miny, maxx, maxy = bbox
    n_hot = int(round(n * hotspot_share))
    cx = rng.uniform(minx + 0.25 * (maxx - minx), maxx - 0.25 * (maxx - minx))
    cy = rng.uniform(miny + 0.25 * (maxy - miny), maxy - 0.25 * (maxy - miny))
    x = rng.uniform(minx, maxx, n)
    y = rng.uniform(miny, maxy, n)
    x[:n_hot] = np.clip(rng.normal(cx, HOTSPOT_SIGMA_M, n_hot), minx, np.nextafter(maxx, minx))
    y[:n_hot] = np.clip(rng.normal(cy, HOTSPOT_SIGMA_M, n_hot), miny, np.nextafter(maxy, miny))
    order = rng.permutation(n)  # spread the hot rows over every file split
    return pa.table({
        "pid": pa.array(np.arange(n, dtype=np.int64)),
        "x": pa.array(x[order]),
        "y": pa.array(y[order]),
    })


def documents(seed: int, n: int, max_words: int = 100) -> pa.Table:
    """The ``documents`` table shape of the repository's test data: (doc_id,
    text, lang, source, n_chars), with seeded words."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = rng.integers(MIN_WORDS, max_words + 1, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """The ``embeddings`` table shape: (vec_id, embedding float[dim] of unit
    norm, label)."""
    rng = _rng(seed, "embeddings")
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
    })


def write_parquet(table: pa.Table, path: str, files: int) -> str:
    """Write ``table`` as a parquet directory ``path`` of ``files`` equal
    slices (each file is one scan split, as a crawl arrives in many splits);
    returns the sha256 over the files in order."""
    os.makedirs(path, exist_ok=True)
    digest = hashlib.sha256()
    step = -(-table.num_rows // files)
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part, compression="snappy")
        with open(part, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()
