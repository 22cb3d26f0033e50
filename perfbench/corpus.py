"""Seeded document stream for the ``stream`` workload.

Doc ids are dense and follow arrival order. Each doc is, by a seeded draw:

- an exact duplicate (``EXACT_SHARE``) of an earlier original: same text;
- a near duplicate (``NEAR_SHARE``) of an earlier original: the original's
  words with one word substituted;
- otherwise an original: 20-40 words drawn from a 512-word vocabulary, so
  two originals share almost no 3-shingles.

Sources are drawn from the last ``WINDOW`` originals, so duplicates land
both inside a batch and across batch boundaries, where they are caught by
the probe against the persisted index. Every figure is a pure function of
``(seed, doc_id)``: any batch can be built without building the ones
before it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

VOCAB = [f"w{i:03d}" for i in range(512)]
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
WINDOW = 2_000


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def kind(seed: int, doc_id: int) -> tuple[str, int]:
    """("orig", doc_id) or ("exact"|"near", source original's id)."""
    r = _rng(seed, 1, doc_id)
    u = r.random()
    if doc_id == 0 or u >= EXACT_SHARE + NEAR_SHARE:
        return "orig", doc_id
    # walk back to an original: sources are never duplicates themselves
    src = int(r.integers(max(0, doc_id - WINDOW), doc_id))
    while kind(seed, src)[0] != "orig":
        src -= 1
    return ("exact" if u < EXACT_SHARE else "near"), src


def _words(seed: int, orig_id: int) -> list[str]:
    r = _rng(seed, 2, orig_id)
    n = int(r.integers(20, 41))
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), n)]


def text(seed: int, doc_id: int) -> str:
    k, src = kind(seed, doc_id)
    words = _words(seed, src)
    if k == "near":
        r = _rng(seed, 3, doc_id)
        words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
    return " ".join(words)


def batch(seed: int, index: int, size: int) -> pd.DataFrame:
    """Batch ``index`` of the stream: ``size`` docs with ids ``index*size..``."""
    ids = range(index * size, (index + 1) * size)
    return pd.DataFrame(
        {"doc_id": np.array(ids, dtype="int64"), "text": [text(seed, i) for i in ids]}
    )


def exact_clusters(seed: int, n_docs: int) -> dict[int, list[int]]:
    """Original id -> ids of every doc < n_docs with exactly its text."""
    clusters: dict[int, list[int]] = {}
    for i in range(n_docs):
        k, src = kind(seed, i)
        if k != "near":
            clusters.setdefault(src, []).append(i)
    return {s: ids for s, ids in clusters.items() if len(ids) > 1}


def ids_hash(ids) -> str:
    return hashlib.sha256(",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


def frame_digest(df: pd.DataFrame) -> str:
    """Byte-level digest of a generated batch."""
    h = hashlib.sha256()
    for doc_id, t in zip(df["doc_id"], df["text"]):
        h.update(f"{doc_id}\x1f{t}\n".encode())
    return h.hexdigest()


def survivor_issues(seed: int, n_docs: int, survivors: pd.DataFrame) -> list[str]:
    """What is wrong with a survivor set of the first ``n_docs`` docs."""
    issues = []
    if survivors["doc_id"].duplicated().any():
        issues.append("survivor ids are not unique")
    if survivors["text"].duplicated().any():
        issues.append("two survivors share exact text")
    kept = set(survivors["doc_id"])
    for src, ids in exact_clusters(seed, n_docs).items():
        n_kept = len(kept.intersection(ids))
        if n_kept != 1:
            issues.append(f"exact-dup cluster of doc {src} keeps {n_kept} members")
            break
    return issues
