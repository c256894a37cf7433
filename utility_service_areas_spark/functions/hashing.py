"""Arrow-batched hashing UDFs for the operators whose inner loop
genuinely can't be expressed with built-in Column functions:
SimHash (bit-vote accumulation) and winnowing fingerprints (rolling
window minimum). Both are deterministic (md5-based, no RNG) so runs
are reproducible and resumable at cluster scale.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType


def _token_hash64(token: str) -> int:
    return int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "big")


def simhash64_py(text: str) -> int:
    """64-bit SimHash over whitespace tokens (signed int64 for Spark).
    Reference kernel — the batch UDF below is the vectorized
    equivalent (pinned equal by tests/test_dedup.py)."""
    votes = [0] * 64
    for tok in text.lower().split():
        h = _token_hash64(tok)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << b
    # two's-complement into signed int64
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def _token_bits(token: str, cache: dict) -> np.ndarray:
    """(64,) uint8 array, index b == (hash >> b) & 1 — md5 cached per
    batch: real corpora reuse a small vocabulary, so the hash cost
    amortizes across every repeat of a token in the Arrow batch."""
    bits = cache.get(token)
    if bits is None:
        d8 = hashlib.md5(token.encode()).digest()[:8]
        # digest is big-endian for int.from_bytes → reverse bytes so
        # little-endian unpack yields index b == bit b of the int
        bits = np.unpackbits(
            np.frombuffer(d8[::-1], dtype=np.uint8), bitorder="little"
        )
        cache[token] = bits
    return bits


def simhash_batch(texts) -> np.ndarray:
    """Vectorized SimHash of an iterable of texts → int64 array.
    Bit-identical to simhash64_py: votes = 2*ones - n, keep bit where
    votes > 0."""
    cache: dict[str, np.ndarray] = {}
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = (t or "").lower().split()
        if not toks:
            out[i] = 0
            continue
        ones = np.zeros(64, dtype=np.int64)
        for tok in toks:
            ones += _token_bits(tok, cache)
        keep = (2 * ones - len(toks)) > 0
        sig_bytes = np.packbits(keep, bitorder="little").tobytes()
        out[i] = int.from_bytes(sig_bytes, "little", signed=False) - (
            (1 << 64) if sig_bytes[7] >= 0x80 else 0
        )
    return out


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    return pd.Series(simhash_batch(texts.tolist()))


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


@F.pandas_udf(IntegerType())
def hamming64(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized hamming distance: int64 xor, byte-table popcount —
    no per-row Python on the (large) candidate-pair frame."""
    x = a.to_numpy(dtype=np.int64) ^ b.to_numpy(dtype=np.int64)
    counts = _POPCOUNT8[x.view(np.uint8)].reshape(len(x), 8).sum(axis=1)
    return pd.Series(counts.astype(np.int32))


_KR_BASE = np.uint64(1_000_003)  # Karp-Rabin base; hash space = mod 2^64
_WINNOW_K = 8  # chars per k-gram
_WINNOW_W = 4  # hashes per winnowing window


def winnow_fingerprints_py(text: str) -> list[int]:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    Karp-Rabin rolling hashes of char k-grams (vectorized: a
    sliding-window dot product in uint64, wraparound = mod 2^64), keep
    the min of each w-window, dedupe. Returns sorted signed int64s.
    """
    k, w = _WINNOW_K, _WINNOW_W
    s = " ".join((text or "").lower().split())
    if len(s) < k:
        return []
    codes = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
    if len(codes) < k:  # multibyte shrink can't happen (utf-8 grows), be safe
        return []
    powers = _KR_BASE ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    grams = np.lib.stride_tricks.sliding_window_view(codes, k).astype(np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        hashes = (grams * powers).sum(axis=1, dtype=np.uint64)
    if len(hashes) <= w:
        picked = hashes.min(keepdims=True)
    else:
        picked = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    return sorted(int(x) for x in np.unique(picked).astype(np.int64))


@F.pandas_udf(ArrayType(LongType()))
def winnow_fingerprints(texts: pd.Series) -> pd.Series:
    return texts.map(winnow_fingerprints_py)
