"""Deterministic hashing text embedder + cosine helpers.

The reference embeds node names/aliases and NER strings with SBERT
all-MiniLM-L6-v2, 384-d, CUDA when available (src/nodes_extraction/
embeddings.py:7-9, ner.py:21,258) and links on cosine >= SIM_THRESHOLD
(ner.py:205-212).  SBERT is unavailable offline and non-deterministic across
hardware, so the rebuild uses a **deterministic char-n-gram hashing
embedder**: stable across machines, pure numpy (vectorized inside Arrow
batches), and similar strings land close in cosine space because they share
n-grams.  Tests pin the cosine-threshold join behaviour with hand-built
vectors (FIXTURES.md §3); a production deployment swaps ``embed_batch`` for
a real model behind the same signature.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

from ..config import EMBED_DIM


def _ngrams(text: str, n: int = 3) -> list[str]:
    padded = f"\x01{text.lower()}\x02"
    if len(padded) < n:
        return [padded]
    return [padded[i:i + n] for i in range(len(padded) - n + 1)]


@lru_cache(maxsize=1 << 18)
def _bucket(gram: str) -> tuple[int, float]:
    """Stable (dimension, sign) for one n-gram via blake2b (seed-free).
    Cached: the gram vocabulary is tiny relative to call volume."""
    h = hashlib.blake2b(gram.encode("utf-8"), digest_size=8).digest()
    val = int.from_bytes(h, "little")
    return val % EMBED_DIM, 1.0 if (val >> 63) & 1 else -1.0


def embed(text: str) -> np.ndarray:
    """Embed one string; L2-normalized float32 vector of EMBED_DIM."""
    vec = np.zeros(EMBED_DIM, dtype=np.float64)
    for gram in _ngrams(text):
        dim, sign = _bucket(gram)
        vec[dim] += sign
    norm = np.linalg.norm(vec)
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def embed_batch(texts) -> np.ndarray:
    """Embed a batch of strings -> (len(texts), EMBED_DIM) float32 matrix."""
    if len(texts) == 0:
        return np.zeros((0, EMBED_DIM), dtype=np.float32)
    return np.stack([embed(t) for t in texts])


def cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise cosine for row-wise L2-normalized matrices: just a matmul.
    The one copy of the L4 cosine: ``linking.semantic_links`` and
    ``linking.RowLinker`` both score residue values with it."""
    return a @ b.T
