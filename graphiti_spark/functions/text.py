"""Text + vector primitives used inside pandas UDFs.

Deterministic replacements for the reference's external services:
  * :func:`embed_text` replaces the embedder client
    (``/root/reference/graphiti_core/embedder/client.py:22-37``, dim 1024,
    newline→space) with a feature-hash embedding so cosine math is
    reproducible offline;
  * cosine / L2 mirror ``helpers.py:104-107`` and ``bulk_utils.py:236-241``;
  * minhash / simhash are the Python references for the document-dedup
    queries' signatures. The pipeline's own entity blocking (the
    reference's candidate generation is O(n²) Python,
    ``bulk_utils.py:208-244``) runs per conversation on name tokens in
    ``operators/dedup.canonical_uuids``; for these hash embeddings token
    cosine equals embedding cosine, so dedup embeds nothing.

All functions are batch-oriented (lists/ndarrays in, ndarray out) so the
pandas UDF wrappers stay Arrow-vectorized.
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


def embed_batch(texts, dim: int = EMBED_DIM) -> np.ndarray:
    return np.stack([embed_text(t, dim) for t in texts]) if len(texts) else \
        np.zeros((0, dim), dtype=np.float32)


def normalize_l2(vec: np.ndarray) -> np.ndarray:
    """``helpers.py:104-107``."""
    n = float(np.linalg.norm(vec))
    return vec / n if n > 0 else vec


def cosine_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, d) float arrays (``bulk_utils.py:236-241``)."""
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    denom = na * nb
    dots = np.einsum("ij,ij->i", a, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(denom > 0, dots / denom, 0.0)
    return out.astype(np.float64)


# ---------------------------------------------------------------------------
# MinHash / SimHash (LSH blocking + near-dup detection)
# ---------------------------------------------------------------------------

def minhash_signature(tokens: list[str], num_hashes: int = 64) -> np.ndarray:
    """num_hashes-permutation MinHash over a token set (uint64)."""
    if not tokens:
        return np.full(num_hashes, np.iinfo(np.uint64).max, dtype=np.uint64)
    sig = np.empty(num_hashes, dtype=np.uint64)
    hashes = np.array(
        [[token_hash64(t, seed) for t in set(tokens)] for seed in range(num_hashes)],
        dtype=np.uint64,
    )
    sig[:] = hashes.min(axis=1)
    return sig


def minhash_bands(sig: np.ndarray, bands: int) -> list[str]:
    """Split a signature into `bands` band-keys (hex strings) for LSH
    bucket-joins: docs sharing any band key are candidate pairs."""
    rows = len(sig) // bands
    out = []
    for b in range(bands):
        chunk = sig[b * rows:(b + 1) * rows].tobytes()
        out.append(f"{b}:{hashlib.blake2b(chunk, digest_size=8).hexdigest()}")
    return out


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash of a token multiset."""
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = token_hash64(t)
        bits = (h >> np.arange(64, dtype=np.uint64)) & 1
        acc += np.where(bits.astype(bool), 1, -1)
    bits = (acc > 0).astype(np.uint64)
    return int((bits << np.arange(64, dtype=np.uint64)).sum())


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def char_ngrams(text: str, n: int = 5) -> list[str]:
    s = " ".join(tokenize(text))
    if len(s) < n:
        return [s] if s else []
    return [s[i:i + n] for i in range(len(s) - n + 1)]


def md5_hex8(s: str) -> str:
    """First 8 hex chars of md5 — the engine-portable hash (md5 exists in
    Spark SQL and DuckDB alike, so driver oracles can recompute it in pure
    SQL; fixed-width hex compares lexicographically == numerically)."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()[:8]


def rolling_fingerprint(text: str, window: int = 8, keep: int = 4) -> list[str]:
    """Winnowing-style document fingerprint: md5-hex8 per char n-gram,
    min per non-overlapping window of hashes, deduped, sorted, first
    ``keep * 8``. md5-based so the driver's DuckDB oracle can recompute
    it (SQL_DOC_FINGERPRINT in queries.py)."""
    grams = char_ngrams(text, n=window)
    if not grams:
        return []
    hs = [md5_hex8(g) for g in grams]
    w = max(1, window)
    mins = {min(hs[i:i + w]) for i in range(0, max(1, len(hs) - w + 1), w)}
    return sorted(mins)[: keep * 8]


def simhash16_md5(tokens: list[str]) -> int:
    """16-bit SimHash over a token multiset with bit_i = high bit of md5
    hex nibble i — chosen so a SQL oracle can recompute it as
    ``substr(md5(tok), i+1, 1) IN ('8'..'f')``. The 64-bit
    :func:`simhash64` stays the engine-internal variant."""
    if not tokens:
        return 0
    acc = [0] * 16
    high = set("89abcdef")
    for t in tokens:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        for i in range(16):
            acc[i] += 1 if h[i] in high else -1
    v = 0
    for i in range(16):
        if acc[i] > 0:
            v |= 1 << i
    return v


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline ops)
# ---------------------------------------------------------------------------

_STOPWORDS_EN = frozenset(
    "the a an and or of to in is are was were be been it this that with for on"
    " as at by from he she they we you i his her their our your not no".split()
)
_STOPWORDS_OTHER = {
    "de": frozenset("der die das und ist ein eine nicht mit für von zu im".split()),
    "fr": frozenset("le la les et est une un pas avec pour de du au dans".split()),
    "es": frozenset("el la los las y es un una no con para de del en por".split()),
}


def lang_id(text: str) -> str:
    """Tiny stopword-vote language heuristic (en/de/fr/es/unknown)."""
    toks = set(tokenize(text))
    if not toks:
        return "unknown"
    scores = {"en": len(toks & _STOPWORDS_EN)}
    for lang, sw in _STOPWORDS_OTHER.items():
        scores[lang] = len(toks & sw)
    best = max(scores, key=lambda k: (scores[k], k))
    return best if scores[best] > 0 else "unknown"


# Character-trigram profiles (ascii-only so length()/replace() arithmetic
# is engine-identical): the classic n-gram language-ID signal, counted
# via non-overlapping occurrences. Trigram sets may overlap across
# languages — scores compete, argmax decides.
TRIGRAM_PROFILES = {
    "de": ["der", "ein", "ich", "sch", "und"],
    "en": [" th", "the", "and", "ing", " of"],
    "es": [" la", "que", " de", "cio", "ado"],
    "fr": ["les", " de", "ent", "ait", "eur"],
}


def lang_id_ngram(text: str) -> str:
    """N-gram language heuristic: argmax of per-language trigram
    occurrence counts, alphabetically-first language wins ties, 'und'
    when nothing matches. The Spark/DuckDB replay counts occurrences as
    (length(t) - length(replace(t, tg, ''))) — 3× this score, same
    argmax (queries.q_lang_id_ngram / SQL_LANG_ID_NGRAM)."""
    t = (text or "").lower()
    best_s, best_l = 0, "und"
    for lang in sorted(TRIGRAM_PROFILES):
        s = sum(t.count(tg) for tg in TRIGRAM_PROFILES[lang])
        if s > best_s:
            best_s, best_l = s, lang
    return best_l


def quality_score(text: str) -> float:
    """Heuristic document quality in [0,1]: length, alpha ratio,
    stopword presence, repetition penalty."""
    t = text or ""
    if not t:
        return 0.0
    toks = tokenize(t)
    if not toks:
        return 0.0
    n = len(t)
    alpha_ratio = sum(c.isalpha() or c.isspace() for c in t) / n
    stop_ratio = sum(tok in _STOPWORDS_EN for tok in toks) / len(toks)
    uniq_ratio = len(set(toks)) / len(toks)
    len_score = min(1.0, len(toks) / 50.0)
    return round(
        0.3 * alpha_ratio + 0.3 * min(1.0, stop_ratio * 4) + 0.2 * uniq_ratio
        + 0.2 * len_score, 6)


def approx_token_count(text: str) -> int:
    """BPE-ish token estimate: words + punctuation runs + long-word splits."""
    t = text or ""
    pieces = re.findall(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]", t)
    count = 0
    for p in pieces:
        count += max(1, (len(p) + 3) // 4) if p[0].isalnum() else 1
    return count
