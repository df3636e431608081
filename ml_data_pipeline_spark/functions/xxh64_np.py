"""Vectorized XXH64 (seed fixed by caller) over byte windows, NumPy.

Reimplements XXH64 exactly as Spark's
``org.apache.spark.sql.catalyst.expressions.XXH64`` executes it for
UTF8String inputs, so that ``xxh64_short(windows, lengths, seed=42)`` (the
short-input path, total length < 32 bytes: no v1..v4 stripe accumulators)
and ``xxh64`` (any length) are bit-for-bit equal to ``F.xxhash64(col)`` on
the same bytes. tests/test_operators.py pins both against Spark itself on
random inputs: ``xxh64_short`` on every length 0..31, ``xxh64`` on every
length 0..100 (1-3 stripes), each with multi-byte UTF-8 samples.

Why it exists (round 16, guide §4.2/§2.4): the MinHash signature stage
hashes millions of 5-char shingles. Doing it here — one NumPy expression
chain per Arrow batch inside ``mapInArrow`` — removes the JVM explode of
one row per shingle, the hash-aggregate exchange that reassembles
signatures per doc, and the 32-conditional-min codegen unit whose Janino
compile dominated the query's cold time. All uint64 arithmetic relies on
NumPy's native wrapping overflow.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64(data: np.ndarray, lengths: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of N byte windows of ANY length (general path).

    Rows shorter than 32 bytes take the seeded short init; rows of 32+
    bytes run the v1..v4 stripe accumulators over floor(len/32) stripes,
    then both converge on the shared 8/4/1-byte tail. Same layout contract
    as xxh64_short; bit-equal to Spark's xxhash64 (pinned against it on
    every length 0..100 by tests/test_operators.py)."""
    if data.ndim != 2 or data.dtype != np.uint8:
        raise ValueError("data must be (N, maxlen) uint8")
    n, maxlen = data.shape
    lengths = lengths.astype(np.int64, copy=False)
    pad = (-maxlen) % 8
    if pad or maxlen == 0:
        data = np.concatenate(
            [data, np.zeros((n, pad if maxlen else 8), dtype=np.uint8)], axis=1
        )
    words = data.view("<u8")  # (N, ceil/8) little-endian words

    n_stripes = lengths // 32
    h = np.full(n, np.uint64(seed) + _P5, dtype=np.uint64) + lengths.astype(np.uint64)
    max_stripes = int(n_stripes.max()) if n else 0
    if max_stripes:
        mask64 = (1 << 64) - 1
        v1 = np.full(n, (seed + int(_P1) + int(_P2)) & mask64, dtype=np.uint64)
        v2 = np.full(n, (seed + int(_P2)) & mask64, dtype=np.uint64)
        v3 = np.full(n, seed & mask64, dtype=np.uint64)
        v4 = np.full(n, (seed - int(_P1)) & mask64, dtype=np.uint64)
        for s in range(max_stripes):
            m = n_stripes > s
            base = 4 * s
            v1 = np.where(m, _rotl(v1 + words[:, base] * _P2, 31) * _P1, v1)
            v2 = np.where(m, _rotl(v2 + words[:, base + 1] * _P2, 31) * _P1, v2)
            v3 = np.where(m, _rotl(v3 + words[:, base + 2] * _P2, 31) * _P1, v3)
            v4 = np.where(m, _rotl(v4 + words[:, base + 3] * _P2, 31) * _P1, v4)
        hl = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            hl = (hl ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        hl += lengths.astype(np.uint64)
        h = np.where(n_stripes > 0, hl, h)
    # shared tail: 8-byte chunks of the post-stripe remainder
    rem_after_stripes = lengths - n_stripes * 32
    n_chunks = rem_after_stripes // 8
    off_words = n_stripes * 4
    max_chunks = int(n_chunks.max()) if n else 0
    idx = np.arange(n)
    for i in range(max_chunks):
        m = n_chunks > i
        w = words[idx, np.minimum(off_words + i, words.shape[1] - 1)]
        k1 = _rotl(w * _P2, 31) * _P1
        upd = _rotl(h ^ k1, 27) * _P1 + _P4
        h = np.where(m, upd, h)
    rem = rem_after_stripes - n_chunks * 8
    off = (n_stripes * 32 + n_chunks * 8).astype(np.int64)
    return _tail_and_avalanche(data, h, rem, off)


def xxh64_short(data: np.ndarray, lengths: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of N byte windows, all shorter than 32 bytes.

    data: (N, maxlen) uint8, row i holds lengths[i] payload bytes (rest is
    ignored — masked out per chunk, never read into the hash).
    Returns (N,) int64 — the same signed value Spark's xxhash64 yields.
    """
    if data.ndim != 2 or data.dtype != np.uint8:
        raise ValueError("data must be (N, maxlen) uint8")
    n, maxlen = data.shape
    if maxlen >= 32:
        raise ValueError("short-path kernel: all windows must be < 32 bytes")
    lengths = lengths.astype(np.int64, copy=False)
    # pad columns to a multiple of 8 so 8-byte little-endian words can be
    # read with a plain view; padding bytes are masked off before use
    pad = (-maxlen) % 8
    if pad:
        data = np.concatenate([data, np.zeros((n, pad), dtype=np.uint8)], axis=1)
    words = data.view("<u8")  # (N, ceil(maxlen/8)) little-endian words

    h = np.full(n, np.uint64(seed) + _P5, dtype=np.uint64) + lengths.astype(np.uint64)
    # 8-byte chunks: reference processes floor(len/8) of them
    n_chunks = lengths // 8
    for i in range(int(n_chunks.max()) if n else 0):
        m = n_chunks > i
        w = words[:, i]
        k1 = _rotl(w * _P2, 31) * _P1
        upd = _rotl(h ^ k1, 27) * _P1 + _P4
        h = np.where(m, upd, h)
    # one 4-byte chunk if >= 4 bytes remain
    rem = lengths - n_chunks * 8
    off = (n_chunks * 8).astype(np.int64)
    return _tail_and_avalanche(data, h, rem, off)


def _tail_and_avalanche(
    data: np.ndarray, h: np.ndarray, rem: np.ndarray, off: np.ndarray
) -> np.ndarray:
    """Shared XXH64 tail: one masked 4-byte chunk, up to 3 masked single
    bytes, then the avalanche. `data` is the (already padded) byte matrix,
    `off` the per-row byte offset where the tail starts, `rem` (0..7) the
    tail byte count."""
    n, width = data.shape
    idx = np.arange(n)
    m4 = rem >= 4
    if m4.any():
        b0 = data[idx, np.minimum(off, width - 1)].astype(np.uint64)
        b1 = data[idx, np.minimum(off + 1, width - 1)].astype(np.uint64)
        b2 = data[idx, np.minimum(off + 2, width - 1)].astype(np.uint64)
        b3 = data[idx, np.minimum(off + 3, width - 1)].astype(np.uint64)
        u32 = b0 | (b1 << np.uint64(8)) | (b2 << np.uint64(16)) | (b3 << np.uint64(24))
        upd = _rotl(h ^ (u32 * _P1), 23) * _P2 + _P3
        h = np.where(m4, upd, h)
        off = np.where(m4, off + 4, off)
        rem = np.where(m4, rem - 4, rem)
    # remaining single bytes (0..3)
    max_rem = int(rem.max()) if n else 0
    for i in range(max_rem):
        m = rem > i
        b = data[idx, np.minimum(off + i, width - 1)].astype(np.uint64)
        upd = _rotl(h ^ (b * _P5), 11) * _P1
        h = np.where(m, upd, h)
    # avalanche
    h = h.copy()
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)
