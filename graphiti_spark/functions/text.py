"""Text + vector primitives used inside pandas UDFs.

Deterministic replacements for the reference's external services:
  * :func:`embed_text` replaces the embedder client
    (``/root/reference/graphiti_core/embedder/client.py:22-37``, dim 1024,
    newline→space) with a feature-hash embedding so cosine math is
    reproducible offline;
  * :func:`tokenize` is the fulltext analyzer: ``serving`` scores BM25
    with it and ``operators/search`` mirrors it in Spark SQL.

The pipeline's own entity blocking (the reference's candidate generation
is O(n²) Python, ``bulk_utils.py:208-244``) runs per conversation on name
tokens in ``operators/dedup.canonical_uuids``; for these hash embeddings
token cosine equals embedding cosine, so dedup embeds nothing.
"""

from __future__ import annotations

import hashlib
import re
import struct

import numpy as np

EMBED_DIM = 1024  # reference default, embedder/client.py:22

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Lowercase alnum tokens (fulltext stand-in for lucene_sanitize +
    Lucene analysis, ``helpers.py:67-101``)."""
    return _TOKEN_RE.findall((text or "").lower())


def _hash64(data: bytes, seed: int = 0) -> int:
    h = hashlib.blake2b(data, digest_size=8, salt=seed.to_bytes(8, "little"))
    return struct.unpack("<Q", h.digest())[0]


def token_hash64(token: str, seed: int = 0) -> int:
    return _hash64(token.encode("utf-8"), seed)


def embed_text(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic feature-hash embedding, L2-normalized.

    Each token contributes ±1 at a hashed index (hashing trick). Newlines
    are collapsed by tokenization (reference replaces ``\\n``→space before
    embedding, ``nodes.py:270-279``). Similar token sets ⇒ high cosine,
    which is what the dedup thresholds (0.8/0.6) operate on.
    """
    vec = np.zeros(dim, dtype=np.float32)
    for tok in tokenize(text):
        h = token_hash64(tok)
        idx = h % dim
        sign = 1.0 if (h >> 63) & 1 else -1.0
        vec[idx] += sign
    n = float(np.linalg.norm(vec))
    if n > 0:
        vec /= n
    return vec
