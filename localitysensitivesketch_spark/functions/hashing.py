"""Vectorized 64-bit hash kernels (pure numpy, uint64 wraparound).

The reference derives its hash family from seeded xxHash64
(``util/bloom/Apache/Hash/LongHashFunction.java:278-292``, used as a
per-cluster seeded family in ``Sketching/LSSFingerprintAtomic.java:148-151``).
We use the same construction idea — one 64-bit base hash per item, then a
cheap seeded finalizer per family member — with splitmix64 as the finalizer
(public-domain construction, Steele et al., used by JDK SplittableRandom).
Everything here is numpy-vectorized; no per-row Python in the Spark path
(BASELINE.json input_hint).

All functions are deterministic given ``SketchConfig.seed``.
"""

from __future__ import annotations

import hashlib

import numpy as np

U64 = np.uint64
_MASK64 = U64(0xFFFFFFFFFFFFFFFF)

# splitmix64 constants
_SM_GAMMA = U64(0x9E3779B97F4B7C15)
_SM_M1 = U64(0xBF58476D1CE4E5B9)
_SM_M2 = U64(0x94D049BB133111EB)

# polynomial-combine constant for shingles (64-bit FNV-ish odd multiplier)
_POLY = U64(((0x100000001B3 * 0x1000193) | 1) & 0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + _SM_GAMMA) & _MASK64
        z = ((z ^ (z >> U64(30))) * _SM_M1) & _MASK64
        z = ((z ^ (z >> U64(27))) * _SM_M2) & _MASK64
        return z ^ (z >> U64(31))


def hash_tokens(tokens: list[str], cache: dict[str, int] | None = None) -> np.ndarray:
    """Stable 64-bit hash per token (blake2b-8; C-speed, seedless).

    ``cache`` amortizes repeated tokens across an Arrow batch.
    Returns uint64 array of len(tokens).
    """
    if cache is None:
        cache = {}
    out = np.empty(len(tokens), dtype=U64)
    for i, t in enumerate(tokens):
        h = cache.get(t)
        if h is None:
            h = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "little"
            )
            cache[t] = h
        out[i] = h
    return out


def shingle_hashes(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """Rolling polynomial combine of k consecutive token hashes → shingle ids.

    Analogue of the reference's fingerprint projection (key bytes → compact
    fingerprint, ``LSSFingerprintAtomic.java:382-409``): the shingle id is the
    64-bit fingerprint of the k-gram.  Returns the UNIQUE sorted uint64
    shingle set (MinHash is set-based).
    """
    n = len(token_hashes)
    if n < k:
        # short doc: hash whatever is there as a single shingle
        if n == 0:
            return np.empty(0, dtype=U64)
        h = token_hashes[0:1].copy()
        with np.errstate(over="ignore"):
            for j in range(1, n):
                h = (h * _POLY + token_hashes[j : j + 1]) & _MASK64
        return np.unique(splitmix64(h))
    m = n - k + 1
    h = token_hashes[0:m].copy()
    with np.errstate(over="ignore"):
        for j in range(1, k):
            h = (h * _POLY + token_hashes[j : j + m]) & _MASK64
    return np.unique(splitmix64(h))


def minhash_seeds(n_hashes: int, seed: int) -> np.ndarray:
    """Per-slot seeds for the MinHash family (reference: seed=cluster index,
    ``LSSFingerprintAtomic.java:148-151``; ours: seed=slot index mixed with
    the global seed)."""
    with np.errstate(over="ignore"):
        base = splitmix64(np.arange(n_hashes, dtype=U64) + U64(seed) * _SM_GAMMA)
    return base.astype(U64)


def minhash_signature(shingles: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """MinHash: sig[i] = min over shingles of splitmix64(s ^ seeds[i]).

    Returns uint64 array of len(seeds).  Empty shingle set → all-max
    sentinel (never collides with real docs in band space because band keys
    include n_shingles>0 guard upstream).
    """
    if shingles.size == 0:
        return np.full(len(seeds), _MASK64, dtype=U64)
    # (m, h) matrix, chunked over shingles to bound memory
    out = np.full(len(seeds), _MASK64, dtype=U64)
    CHUNK = 8192
    for lo in range(0, shingles.size, CHUNK):
        block = shingles[lo : lo + CHUNK, None] ^ seeds[None, :]
        np.minimum(out, splitmix64(block).min(axis=0), out=out)
    return out


def band_keys(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Hash each band of `rows` signature slots → one 64-bit band key.

    The band key plays the role of the reference's cluster bucket position
    (``LSSFingerprintAtomic.java:628-636``): items agreeing on a band land in
    the same bucket and become candidates.  Band index is mixed in so band
    spaces don't collide.
    """
    sig = sig.reshape(bands, rows)
    with np.errstate(over="ignore"):
        h = splitmix64(np.arange(bands, dtype=U64) + U64(0xB0A11D))
        for j in range(rows):
            h = splitmix64(h ^ sig[:, j])
    return h


def band_keys_batch(sigs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Vectorized band_keys over a (n_docs, n_hashes) matrix → (n_docs, bands)."""
    n = sigs.shape[0]
    sig3 = sigs.reshape(n, bands, rows)
    with np.errstate(over="ignore"):
        h = splitmix64(np.arange(bands, dtype=U64) + U64(0xB0A11D))[None, :]
        h = np.broadcast_to(h, (n, bands)).copy()
        for j in range(rows):
            h = splitmix64(h ^ sig3[:, :, j])
    return h


def simhash64(token_hashes: np.ndarray, weights: np.ndarray | None = None) -> int:
    """64-bit SimHash over token hashes (weight = token multiplicity).

    bit b of result = 1 iff Σ_t w_t · (±1 per bit b of hash(t)) > 0.
    """
    if token_hashes.size == 0:
        return 0
    if weights is None:
        vals, counts = np.unique(token_hashes, return_counts=True)
        weights = counts.astype(np.int64)
    else:
        vals = token_hashes
        weights = weights.astype(np.int64)
    # unpack 64 bits: (m, 64) of {0,1}
    bits = (vals[:, None] >> np.arange(64, dtype=U64)[None, :]) & U64(1)
    contrib = (2 * bits.astype(np.int64) - 1) * weights[:, None]
    sums = contrib.sum(axis=0)
    out = np.uint64(0)
    setbits = np.nonzero(sums > 0)[0]
    for b in setbits:
        out |= U64(1) << U64(int(b))
    return int(out)


def hamming_ball_keys(fp: int, radius: int, table_bits: int = 16) -> list[int]:
    """Multi-probe keys for SimHash Hamming-ball lookup.

    Splits the 64-bit fingerprint into ``radius+1`` contiguous segments
    (pigeonhole: two fps within Hamming distance ≤ radius agree exactly on
    ≥1 segment).  Key = splitmix64(segment_value ^ segment_index tag).
    This mirrors the reference's multi-cluster membership probe
    (``LSSFingerprintAtomic.java:505-518``: probe every cluster's filter).
    """
    nseg = radius + 1
    seg_len = 64 // nseg
    keys = []
    arr = np.empty(nseg, dtype=U64)
    for i in range(nseg):
        lo = i * seg_len
        length = seg_len if i < nseg - 1 else 64 - lo
        seg = (fp >> lo) & ((1 << length) - 1)
        arr[i] = U64(seg)
    mixed = splitmix64(arr ^ (np.arange(nseg, dtype=U64) << U64(56)))
    for i in range(nseg):
        keys.append(int(mixed[i]))
    return keys


def rolling_window_hashes(token_hashes: np.ndarray, L: int) -> np.ndarray:
    """Polynomial rolling hash of every L-token window (uint64 wraparound).

    h(i) = Σ_{j<L} t[i+j] · P^{L-1-j}; computed by the O(n) slide
    h(i+1) = (h(i) − t[i]·P^{L-1})·P + t[i+L].  Returns n−L+1 hashes
    (empty if the doc is shorter than L).
    """
    n = len(token_hashes)
    if n < L:
        return np.empty(0, dtype=U64)
    t = token_hashes.astype(U64)
    m = n - L + 1
    with np.errstate(over="ignore"):
        # h(i) = P^{L-1+i} · (S[i+L] − S[i]),  S[k] = Σ_{u<k} t[u]·Pinv^u
        # (all mod 2^64; P odd ⇒ invertible).  Fully vectorized.
        pinv = pow(int(_POLY), -1, 1 << 64)
        powers = np.empty(n, dtype=U64)  # P^i
        powers[0] = U64(1)
        inv_powers = np.empty(n, dtype=U64)  # Pinv^i
        inv_powers[0] = U64(1)
        if n > 1:
            np.multiply.accumulate(np.full(n - 1, _POLY, dtype=U64), out=powers[1:])
            np.multiply.accumulate(
                np.full(n - 1, U64(pinv), dtype=U64), out=inv_powers[1:]
            )
        weighted = t * inv_powers
        S = np.zeros(n + 1, dtype=U64)
        np.add.accumulate(weighted, out=S[1:])
        pl_1 = powers[L - 1]
        out = (S[L:] - S[:m]) * pl_1 * powers[:m]
    return splitmix64(out)


def winnow(window_hashes: np.ndarray, w: int) -> np.ndarray:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003):
    positions whose hash is the minimum of some length-w window of hashes.

    Guarantee: two docs sharing a verbatim run of ≥ L + w − 1 tokens share
    at least one selected (position, hash) fingerprint.  Returns the sorted
    unique positions selected.
    """
    m = len(window_hashes)
    if m == 0:
        return np.empty(0, dtype=np.int64)
    if m <= w:
        return np.array([int(np.argmin(window_hashes))], dtype=np.int64)
    # sliding-window argmin via stride trick (w windows is fine: w ≤ 256)
    sw = np.lib.stride_tricks.sliding_window_view(window_hashes, w)
    mins = sw.argmin(axis=1) + np.arange(sw.shape[0])
    return np.unique(mins)


def u64_to_i64(a: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 → int64 for Spark LongType columns."""
    return a.view(np.int64)
