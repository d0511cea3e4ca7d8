"""Deterministic, vectorized (numpy) hash primitives.

These run identically inside pandas UDFs on executors and inside the
single-machine numpy oracle — that shared determinism is what the
recall >= 0.99 gate is pinned to.  Everything is seeded from
DedupConfig; no wall clock, no process randomness.

Design notes:
  * uint64 arithmetic with silent wraparound (numpy array semantics).
  * splitmix64 as the stream/finalize mixer (public-domain algorithm,
    Steele et al., "Fast Splittable Pseudorandom Number Generators").
  * multiply-shift universal hashing for the MinHash permutations.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

_U64 = np.uint64
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer. x: uint64 array -> uint64 array."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _U64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


# Only small streams are cacheable: the callers (per-position k-gram
# multipliers, MinHash params, band-hash multipliers, the audio SimHash
# planes) request a handful of distinct (seed, n) keys per config.  The
# largest is the SimHash planes, simhash_bits * n_feat * 4 = 61,440
# values at the default config; a larger config (more bits, segments
# or bands) is computed fresh instead of pinning up to 256 * n * 8
# bytes per executor Python worker in the LRU.
_RNG_CACHE_MAX_N = 65_536


def _rng_raw(seed: int, n: int) -> np.ndarray:
    return splitmix64(
        np.arange(1, n + 1, dtype=np.uint64) + _U64(seed & 0xFFFFFFFFFFFFFFFF)
    )


@lru_cache(maxsize=256)
def _rng_u64_cached(seed: int, n: int) -> np.ndarray:
    out = _rng_raw(seed, n)
    out.flags.writeable = False  # cached copies are shared — freeze them
    return out


def rng_u64(seed: int, n: int) -> np.ndarray:
    """n deterministic uint64 values derived from seed via splitmix64.

    Small streams (n <= 65536) are cached per (seed, n): they are
    per-row constants inside the signature UDF, and recomputing them
    dominated per-row CPU in profiles.  Cached arrays are read-only;
    callers that transform them (e.g. `| 1`) get a fresh array from
    numpy anyway.  Larger requests are computed fresh (bounded memory;
    see _RNG_CACHE_MAX_N note)."""
    if n <= _RNG_CACHE_MAX_N:
        return _rng_u64_cached(int(seed), int(n))
    return _rng_raw(int(seed), int(n))


def kgram_hashes(data: bytes, k: int) -> np.ndarray:
    """64-bit hashes of all k-byte windows of `data` (vectorized).

    Polynomial-style window hash: each window's bytes are mixed with a
    fixed per-position multiplier, summed, then splitmix64-finalized.
    Returns uint64 array of length max(0, len(data) - k + 1).
    """
    buf = np.frombuffer(data, dtype=np.uint8)
    n = buf.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    # sliding windows (view, no copy): shape (n, k)
    windows = np.lib.stride_tricks.sliding_window_view(buf, k).astype(np.uint64)
    mult = rng_u64(0xC0FFEE ^ k, k)  # fixed per-position multipliers
    with np.errstate(over="ignore"):
        mixed = (windows * mult[None, :]).sum(axis=1, dtype=np.uint64)
    return splitmix64(mixed)


@lru_cache(maxsize=16)
def minhash_params(seed: int, num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-shift parameters; a forced odd.  Cached — called
    once per row inside the signature UDF."""
    a = rng_u64(seed, num_perm) | _U64(1)
    a.flags.writeable = False
    b = rng_u64(seed ^ 0xDEADBEEF, num_perm)
    return a, b


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature over a set of 64-bit shingle hashes.

    shingles: uint64 (n,);  a, b: uint64 (num_perm,).
    Returns int32 (num_perm,) — stored as Spark array<int>.  Each lane
    keeps the top 30 bits of its 63-bit minimum: lane agreement is
    preserved exactly, disagreement collapses to a false agreement
    with probability ~2^-30 per lane (immaterial next to the
    1/sqrt(num_perm) estimator noise), and the signature is half the
    bytes through every shuffle and checkpoint that carries it.
    Empty shingle set -> all -1 sentinel (never collides with a real
    signature because real lanes are >= 0).
    """
    num_perm = a.shape[0]
    if shingles.size == 0:
        return np.full(num_perm, -1, dtype=np.int32)
    u = np.unique(shingles)
    with np.errstate(over="ignore"):
        # (num_perm, n) lane values; >>1 keeps them int64-positive
        lanes = (a[:, None] * u[None, :] + b[:, None]) >> _U64(1)
    return (lanes.min(axis=1) >> _U64(33)).astype(np.int32)


def band_hashes(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Combine each band's `rows` signature lanes into one 64-bit hash.

    sig: int64 (num_perm,) -> int64 (bands,).  The band index is mixed
    in so identical row-values in different bands don't collide.
    """
    lanes = sig.astype(np.uint64).reshape(bands, rows)
    mult = rng_u64(0xBA4D, rows)
    with np.errstate(over="ignore"):
        mixed = (lanes * mult[None, :]).sum(axis=1, dtype=np.uint64)
        mixed += splitmix64(np.arange(bands, dtype=np.uint64) + _U64(0xB00))
    return splitmix64(mixed).astype(np.int64)


def winnow_fingerprints(data: bytes, k: int, w: int) -> np.ndarray:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

    Selects, for each window of w consecutive k-gram hashes, the
    rightmost minimal hash.  Guarantee used by the containment
    operator: any shared substring of length >= w + k - 1 yields at
    least one shared fingerprint — selection is a function of a local
    window only, so a substring selects the same fingerprints inside
    the containing string.  Returns sorted unique uint64 array.
    """
    h = kgram_hashes(data, k)
    if h.size == 0:
        return h
    if h.size <= w:
        return np.unique(h.min(keepdims=True))
    wins = np.lib.stride_tricks.sliding_window_view(h, w)  # (m, w)
    # rightmost minimum per window: argmin on reversed window
    rev = wins[:, ::-1]
    idx = (w - 1) - np.argmin(rev, axis=1)
    picked = wins[np.arange(wins.shape[0]), idx]
    return np.unique(picked)
