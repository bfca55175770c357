"""Seeded embeddings datasets for the benchmark.

Writes ``embeddings.parquet`` in the fixture schema (``vec_id`` int64,
``embedding`` list<float>, ``label`` int32): 64-d unit vectors, 10 labels,
with a mild per-label centroid pull. Without the pull the vectors are
near-orthogonal Gaussians, as in the sf0.1 fixture, so the median pairwise
distance stays near 1.414 and the engine's ``DBSCAN_EPS`` / ``RADIUS_EPS``
keep about the same share of pairs as they do there.

A fixed share of vectors is poisoned (one NaN or one NULL component), so
the engine's corrupt-vector path runs in every workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LABELS = 10
#: weight of the label centroid added before normalising; 0.25 moves the
#: median same-label distance from 1.414 to about 1.37.
CLUSTER_PULL = 0.25
#: one vector in this many carries a NaN or NULL component.
POISON_EVERY = 250

SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def make_vectors(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, DIM) float32 unit vectors and their int32 labels."""
    rng = np.random.default_rng(seed)
    centroids = rng.standard_normal((LABELS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, DIM)) / np.sqrt(DIM) + CLUSTER_PULL * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def poisoned_ids(n: int) -> np.ndarray:
    """Row ids that carry a corrupt component (fixed, not seeded)."""
    return np.arange(POISON_EVERY // 2, n, POISON_EVERY)


def perturb(x: np.ndarray, seed: int, share: float = 0.01) -> np.ndarray:
    """Copy of ``x`` with ``share`` of its rows replaced by nearby unit
    vectors (a seeded edit of the corpus)."""
    rng = np.random.default_rng(seed)
    out = x.copy()
    rows = rng.choice(len(x), max(1, int(len(x) * share)), replace=False)
    moved = out[rows].astype(np.float64) + 0.5 * rng.standard_normal((len(rows), DIM)) / np.sqrt(DIM)
    out[rows] = (moved / np.linalg.norm(moved, axis=1, keepdims=True)).astype(np.float32)
    return out


def to_table(x: np.ndarray, labels: np.ndarray) -> pa.Table:
    n = len(x)
    flat = x.reshape(-1).copy()
    valid = np.ones(n * DIM, dtype=bool)
    for i, row in enumerate(poisoned_ids(n)):
        if i % 2 == 0:
            flat[row * DIM + 3] = np.nan
        else:
            valid[row * DIM + 3] = False
    values = pa.array(flat, type=pa.float32(), mask=~valid)
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, values)
    return pa.Table.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)), emb, pa.array(labels)], schema=SCHEMA
    )


def write_atomic(table: pa.Table, data_dir: str) -> None:
    """Replace ``embeddings.parquet`` in one rename, so a reader sees the
    old file or the new one, never a partial write."""
    tmp = os.path.join(data_dir, ".embeddings.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(data_dir, "embeddings.parquet"))


def pair_share_below(x: np.ndarray, eps: float, block: int = 1000) -> float:
    """Share of distinct clean pairs closer than ``eps`` (blockwise, so a
    large corpus never holds its full distance matrix)."""
    clean = np.setdiff1d(np.arange(len(x)), poisoned_ids(len(x)))
    v = x[clean].astype(np.float64)
    n, below = len(v), 0
    for i in range(0, n, block):
        d2 = 2.0 - 2.0 * (v[i : i + block] @ v.T)
        close = d2 < eps * eps
        below += int(close.sum()) - int(np.diag(close[:, i : i + block]).sum())
    return below / (n * (n - 1))


def generate(
    data_dir: str, n: int, seed: int, eps: dict[str, float]
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Write the dataset; return its vectors, labels and a record of what
    it is: n, seed, poisoned count and the share of pairs under each named
    radius."""
    os.makedirs(data_dir, exist_ok=True)
    x, labels = make_vectors(n, seed)
    write_atomic(to_table(x, labels), data_dir)
    info = {
        "n": n,
        "seed": seed,
        "poisoned": int(len(poisoned_ids(n))),
        "pair_share_below": {name: round(pair_share_below(x, e), 4) for name, e in eps.items()},
    }
    return x, labels, info
