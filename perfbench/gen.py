"""Seeded inputs for the perfbench workloads, and the NumPy references
their outputs are checked against.

Everything here is a pure function of a ``numpy.random.Generator``
built from ``--seed``: the same seed gives the same vectors, queries,
documents and batches. The library under test never sees this module;
it only receives the DataFrames the workloads build from these arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Clustered:
    """A clustered vector corpus: ``vecs[i]`` has id ``ids[i]``."""

    ids: np.ndarray  # int64 (n,)
    vecs: np.ndarray  # float32 (n, dim)
    centers: np.ndarray  # float64 (clusters, dim)
    props: dict


NOISE_SD = 0.35  # spread of each cluster around its centre


def clustered(rng, n: int, dim: int, clusters: int, big_share: float) -> Clustered:
    """Gaussian blobs around ``clusters`` centres. Cluster 0 holds
    ``big_share`` of the rows and the rest split the remainder evenly,
    so one IVF partition is much larger than the others."""
    centers = rng.normal(0.0, 1.0, (clusters, dim))
    return Clustered(
        np.arange(n, dtype=np.int64),
        draw(rng, centers, n, big_share),
        centers,
        {"n": n, "dim": dim, "clusters": clusters, "big_cluster_share": big_share,
         "noise_sd": NOISE_SD},
    )


def draw(rng, centers: np.ndarray, n: int, big_share: float) -> np.ndarray:
    """``n`` float32 points from the blob mixture around ``centers``."""
    c = len(centers)
    p = np.full(c, (1.0 - big_share) / (c - 1))
    p[0] = big_share
    labels = rng.choice(c, n, p=p)
    return (centers[labels] + rng.normal(0.0, NOISE_SD, (n, centers.shape[1]))).astype(
        np.float32)


@dataclass
class Docs:
    """Generated documents with planted near-duplicate pairs."""

    ids: np.ndarray  # int64 (n,)
    texts: list[str]
    vecs: np.ndarray  # float32 (n, dim) — one embedding per document
    planted: set[tuple[int, int]]  # (a, b) with a < b
    props: dict


def docs(rng, n: int, dim: int, dup_share: float, vocab: int = 4000,
         words: tuple[int, int] = (40, 80), edit_share: float = 0.04,
         emb_noise: float = 0.01) -> Docs:
    """``n`` documents of random words; a ``dup_share`` of them are
    near-copies of an earlier original (``edit_share`` of the words
    replaced) and carry the original's embedding plus a little noise.
    Every (original, copy) pair is a planted near-duplicate pair."""
    n_dup = int(round(n * dup_share))
    n_orig = n - n_dup
    texts = []
    for _ in range(n_orig):
        texts.append(rng.integers(0, vocab, int(rng.integers(*words))))
    vecs = rng.normal(0.0, 1.0, (n, dim))
    src = rng.choice(n_orig, n_dup, replace=False)
    planted = set()
    for j, s in enumerate(src):
        t = texts[s].copy()
        edit = rng.random(len(t)) < edit_share
        t[edit] = rng.integers(0, vocab, int(edit.sum()))
        texts.append(t)
        vecs[n_orig + j] = vecs[s] + rng.normal(0.0, emb_noise, dim)
        planted.add((int(s), int(n_orig + j)))
    return Docs(
        np.arange(n, dtype=np.int64),
        [" ".join(f"w{w}" for w in t) for t in texts],
        vecs.astype(np.float32),
        planted,
        {"n_docs": n, "dup_share": dup_share, "planted_pairs": len(planted),
         "vocab": vocab, "words_per_doc": list(words), "edit_share": edit_share},
    )


def vector_table(ids: np.ndarray, vecs: np.ndarray, id_name: str = "id",
                 vec_name: str = "vec", **extra) -> pa.Table:
    """An Arrow table of (id BIGINT, vec ARRAY<FLOAT>, *extra)."""
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({id_name: pa.array(ids, type=pa.int64()), **extra, vec_name: lists})


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """One parquet file of (id BIGINT, vec ARRAY<FLOAT>)."""
    pq.write_table(vector_table(ids, vecs), path)


# --------------------------------------------------------------------
# NumPy references (float64)


def l2(vecs: np.ndarray, q) -> np.ndarray:
    d = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", d, d))


def topk(ids: np.ndarray, vecs: np.ndarray, q, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact L2 top-k as (ids, distances), ordered by (distance, id)."""
    d = l2(vecs, q)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def same_topk(got: list[tuple[int, float]], ref_ids, ref_d, rtol: float = 1e-5) -> bool:
    """Exact-tier result equals the reference: same length, distances
    equal within ``rtol``, and the same ids except where the reference
    ties at the k-th distance (either tied id may then be returned)."""
    if len(got) != len(ref_ids):
        return False
    gd = np.array([d for _, d in got])
    if not np.allclose(gd, ref_d, rtol=rtol, atol=1e-9):
        return False
    kth = ref_d[-1]
    inner = ref_d < kth * (1.0 - rtol)
    return set(int(i) for i in ref_ids[inner]) <= {i for i, _ in got}


def recall(got_ids, ref_ids) -> float:
    return len(set(int(i) for i in got_ids) & set(int(i) for i in ref_ids)) / max(len(ref_ids), 1)


def jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


def min_labels(edges) -> dict[int, int]:
    """Connected components of an undirected edge list, labelled by
    their smallest id (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
