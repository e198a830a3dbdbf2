"""Pure text-analysis primitives for the training-data pipeline operators
(task brief: dedup, fingerprinting, language-ID, quality scoring).

Spark-free and deterministic (sha-derived constants, no RNG state): the
Spark ops wrap these in Arrow-batch pandas UDFs (engine/ops/textops.py) and
pytest compares the distributed results against direct calls
(tests/test_textops.py) — same shared-pure-function discipline as the crawl
invariants (engine/pure.py).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MERSENNE61 = (1 << 61) - 1


def _derived_u64(tag: str, i: int) -> int:
    """Deterministic 64-bit constant from (tag, i) — the seed-free way to
    get hash-family parameters that Python and every executor agree on."""
    return struct.unpack(
        ">Q", hashlib.sha256(f"{tag}:{i}".encode()).digest()[:8]
    )[0]


def token_hash64(token: str) -> int:
    return _derived_u64("tok", 0) ^ struct.unpack(
        ">Q", hashlib.sha256(token.encode("utf-8")).digest()[:8]
    )[0]


# ------------------------------------------------------------------ shingles


def word_shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    hs = sorted(token_hash64(s) for s in word_shingles(text, k))
    return np.asarray(hs, dtype=np.uint64)


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = word_shingles(a, k), word_shingles(b, k)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


# ------------------------------------------------------------------ minhash

N_HASHES = 64
N_BANDS = 16  # 16 bands × 4 rows
ROWS_PER_BAND = N_HASHES // N_BANDS

# multiply-shift family over 2^64: h_i(x) = a_i * x + b_i  (a_i forced odd)
_A = np.asarray(
    [_derived_u64("mh-a", i) | 1 for i in range(N_HASHES)], dtype=np.uint64
)
_B = np.asarray([_derived_u64("mh-b", i) for i in range(N_HASHES)], dtype=np.uint64)


def minhash_signature_from_hashes(sh: np.ndarray) -> np.ndarray:
    """64 minhash values (uint64) from precomputed shingle hashes —
    callers that already hold the hashes (one-pass sketch UDFs) skip the
    re-tokenize/re-sha."""
    if sh.size == 0:
        return np.zeros(N_HASHES, dtype=np.uint64)
    with np.errstate(over="ignore"):
        m = _A[:, None] * sh[None, :] + _B[:, None]  # (64, n) mod 2^64
    return m.min(axis=1)


def minhash_signature(text: str, k: int = 3) -> np.ndarray:
    """64 minhash values (uint64) of the doc's k-token shingle set."""
    return minhash_signature_from_hashes(shingle_hashes(text, k))


def band_keys(sig: np.ndarray) -> list[int]:
    """One combined 63-bit key per band (bucket join key for LSH)."""
    out = []
    for b in range(N_BANDS):
        chunk = sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
        acc = np.uint64(_derived_u64("band", b))
        with np.errstate(over="ignore"):
            for v in chunk:
                acc = (acc ^ v) * np.uint64(0x9E3779B97F4A7C15)
        out.append(int(acc) & ((1 << 63) - 1))  # fits LongType
    return out


# ------------------------------------------------------------------ simhash


def _simhash_from_counts(hs: np.ndarray, cs: np.ndarray) -> int:
    """Fingerprint from distinct token hashes + counts, one (n, 64)
    matrix op instead of a per-token Python loop — bit-identical to the
    scalar accumulation (same integer arithmetic, same >0 threshold)."""
    bits = (
        (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
        & np.uint64(1)
    ).astype(np.int64)  # (n, 64)
    acc = ((bits * 2 - 1) * cs[:, None]).sum(axis=0)
    fp = int(
        ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
            dtype=np.uint64
        )
    )
    return struct.unpack(">q", struct.pack(">Q", fp & 0xFFFFFFFFFFFFFFFF))[0]


def simhash64(text: str) -> int:
    """Token-frequency-weighted 64-bit simhash (signed, Spark LongType)."""
    counts: dict[str, int] = {}
    for t in text.split():
        counts[t] = counts.get(t, 0) + 1
    if not counts:
        return 0
    hs = np.fromiter(
        (token_hash64(tok) for tok in counts),
        dtype=np.uint64,
        count=len(counts),
    )
    cs = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    return _simhash_from_counts(hs, cs)


# ------------------------------------------------- rolling-hash fingerprint


def doc_fingerprint(text: str, window: int = 16, keep: int = 4) -> list[int]:
    """Winnowing-style fingerprint: Karp-Rabin rolling hash (base 257 mod
    2^61-1) over utf-8 bytes, keep the ``keep`` smallest window hashes,
    sorted.  Short docs fall back to one whole-doc hash."""
    data = text.encode("utf-8")
    if len(data) < window:
        return [token_hash64(text) % MERSENNE61]
    base, mod = 257, MERSENNE61
    power = pow(base, window - 1, mod)
    h = 0
    for b in data[:window]:
        h = (h * base + b) % mod
    hashes = [h]
    for i in range(window, len(data)):
        h = ((h - data[i - window] * power) * base + data[i]) % mod
        hashes.append(h)
    return sorted(set(hashes))[:keep]


# ------------------------------------------------------------------ lang-id

# marker unigrams per language — a deliberately simple, fully deterministic
# n-gram-style heuristic (brief: "language-ID (n-gram heuristic)"); the
# SQL-oracle-able marker-count scores are in engine/ops/textops.py
LANG_MARKERS = {
    "en": ("the", "and", "of", "a", "to"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "de", "la", "los", "que"),
}


def lang_scores(text: str) -> dict[str, int]:
    toks = text.split()
    counts: dict[str, int] = {}
    for tok in toks:
        counts[tok] = counts.get(tok, 0) + 1
    return {
        lang: sum(counts.get(m, 0) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: str) -> str:
    scores = lang_scores(text)
    best = max(sorted(scores), key=lambda lang: scores[lang])
    return best if scores[best] > 0 else "unk"
