"""Reference computations made apart from the engine: the embedding
recipe re-implemented from its definition, keys from hashlib, stored
vectors read back with pyarrow, and brute-force top-k in numpy."""

from __future__ import annotations

import functools
import hashlib
import math
import os
import struct

import numpy as np
import pyarrow.dataset as ds

DIM = 64
SCORE_TOL = 1e-6


@functools.lru_cache(maxsize=None)
def embed(text: str, dim: int = DIM) -> np.ndarray:
    """vec[i] = u64_le(sha256(f"{text}||{i // 4}"))[i % 4] / 2^63 - 1,
    then L2-normalised and rounded to float32. Cached by text: the
    checks compare every stored vector after every update, so the
    array is read-only."""
    raw = []
    for block in range((dim + 3) // 4):
        digest = hashlib.sha256(f"{text}||{block}".encode()).digest()
        raw += [u / 2.0**63 - 1.0 for u in struct.unpack("<4Q", digest)]
    raw = raw[:dim]
    norm = math.sqrt(math.fsum(x * x for x in raw))
    vec = np.array([x / norm for x in raw], dtype=np.float32)
    vec.flags.writeable = False
    return vec


def key(doc_id) -> str:
    return hashlib.sha256(str(doc_id).encode()).hexdigest()


def close_vec(a, b) -> bool:
    """Equal up to one float32 rounding step per component."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and float(np.max(np.abs(a - b))) <= 2e-7


def read_parquet(files, columns) -> dict:
    """Columns of the given parquet files, read with pyarrow only."""
    table = ds.dataset(list(files), format="parquet").to_table(columns=columns)
    return table.to_pydict()


def layout_files(root: str) -> list[str]:
    """Parquet files under a partitioned layout, skipping hidden and
    metadata dirs (``_txlog``, ``_centroids``) but not partition dirs
    such as ``_bucket=3``."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if "=" in d or not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, f) for f in filenames
                if f.endswith(".parquet")]
    return sorted(out)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(root):
        for f in filenames:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class BruteForce:
    """Exact inner-product top-k over a fixed vector set."""

    def __init__(self, ids, vectors):
        self.ids = list(ids)
        self.mat = np.asarray(vectors, dtype=np.float64)
        self.pos = {k: i for i, k in enumerate(self.ids)}

    def topk(self, q, k: int = 10) -> list[str]:
        scores = self.mat @ np.asarray(q, dtype=np.float64)
        top = np.argsort(-scores, kind="stable")[:k]
        return [self.ids[i] for i in top]

    def score(self, q, key_: str) -> float:
        return float(self.mat[self.pos[key_]] @ np.asarray(q, dtype=np.float64))


def check_answer(rows, q, brute: BruteForce, k: int, hydrate: dict | None,
                 expect_top: set | None = None) -> tuple[list[str], float]:
    """Problems with one top-k answer, and its recall against brute
    force. ``rows`` carry (rank, neighbor_id, score[, lang, source])."""
    problems = []
    rows = sorted(rows, key=lambda r: r["rank"])
    if len(rows) != k or [r["rank"] for r in rows] != list(range(1, k + 1)):
        problems.append(f"ranks {[r['rank'] for r in rows]}")
    scores = [r["score"] for r in rows]
    if any(a < b for a, b in zip(scores, scores[1:])):
        problems.append("scores not ordered by rank")
    for r in rows:
        nid = r["neighbor_id"]
        if nid not in brute.pos:
            problems.append(f"unknown neighbour {nid}")
            continue
        if abs(brute.score(q, nid) - r["score"]) > SCORE_TOL:
            problems.append(f"score of {nid} is {r['score']}")
        if hydrate is not None and (r["lang"], r["source"]) != hydrate[nid]:
            problems.append(f"hydrated fields of {nid}")
    if expect_top is not None and (
        not rows or rows[0]["neighbor_id"] not in expect_top
        or abs(rows[0]["score"] - 1.0) > SCORE_TOL
    ):
        problems.append("stored text not returned at rank 1 with score 1")
    truth = set(brute.topk(q, k))
    recall = len(truth & {r["neighbor_id"] for r in rows}) / k
    return problems, recall
