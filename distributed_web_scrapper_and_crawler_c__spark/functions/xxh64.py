"""Driver-side twin of Spark SQL's ``xxhash64`` expression.

The seen-filter state (plans/bloom, plans/cuckoo) hashes keys JVM-side with
``F.xxhash64`` so the hot path never leaves the JVM. The driver fast-round
path (plans/frontier, rounds under the fast-round gate) needs the SAME hash
values for its keys — up to tens of thousands of candidate links a round —
without launching a Spark job; this module computes them in Python, in two
forms:

- the scalar reference, :func:`spark_xxhash64_str`, a line-by-line XXH64;
- the batch form the engine calls, :func:`hash_str_array`: numpy runs each
  XXH64 step for a whole block of strings at once (strings zero-padded into
  one byte matrix read as little-endian words, every step masked to the
  rows whose length takes it). A string is hashed once; an int-literal
  child folds onto that hash (:func:`fold_int_array`) instead of rehashing
  the string.

Algorithm: XXH64 (Yann Collet's public xxHash, BSD) exactly as Spark SQL
evaluates it:

- ``xxhash64(c1, c2, ...)`` folds over the children with the running hash
  as the seed: ``h = 42; for c in children: h = H(c, seed=h)``.
- a string child hashes its UTF-8 bytes through the general XXH64 routine;
- an int child (e.g. ``F.lit(1)``) takes the 4-byte specialization;
- a long child takes the 8-byte specialization.

Byte-equality of both forms with the JVM expression is asserted by fuzz in
``tests/test_fast_rounds.py`` (test_xxh64_matches_spark_expression) — the
bloom/cuckoo bitmaps a fast round updates must be bit-identical to the
ones a distributed round would produce.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_DEFAULT_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64_bytes(data: bytes, seed: int = SPARK_DEFAULT_SEED) -> int:
    """XXH64 of a byte string (unsigned 64-bit result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= _round(0, v)
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def xxh64_int(value: int, seed: int) -> int:
    """Spark XXH64.hashInt — the 4-byte specialization (IntegerType child,
    e.g. ``F.lit(1)``)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def xxh64_long(value: int, seed: int) -> int:
    """Spark XXH64.hashLong — the 8-byte specialization (LongType child)."""
    h = (seed + _P5 + 8) & _M
    h ^= _round(0, value & _M)
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def spark_xxhash64_str(s: str, *int_children: int) -> int:
    """``F.xxhash64(col, F.lit(i1), ...)`` for a string column value plus
    optional Python-int literal children (IntegerType), as an UNSIGNED
    64-bit int. Spark returns the same bits as a signed long."""
    h = xxh64_bytes(s.encode("utf-8"), SPARK_DEFAULT_SEED)
    for c in int_children:
        h = xxh64_int(c, h)
    return h


# ------------------------------------------------------------- batch form

# strings hashed per numpy block, taken in byte-length order so a block's
# padded byte matrix stays close to the bytes it holds
_BLOCK = 2048

_U = np.uint64
_NP1, _NP2, _NP3, _NP4, _NP5 = _U(_P1), _U(_P2), _U(_P3), _U(_P4), _U(_P5)


def _rotl_v(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round_v(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl_v(acc + inp * _NP2, 31) * _NP1


def _fmix_v(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * _NP2
    h = h ^ (h >> _U(29))
    h = h * _NP3
    return h ^ (h >> _U(32))


def _gather(words: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """``words[row, idx[row]]`` per row; rows whose index runs past the
    padded width read the last word (their result is masked out)."""
    idx = np.minimum(idx, words.shape[1] - 1)
    return words[np.arange(len(idx)), idx].astype(np.uint64)


def _xxh64_block(data: list[bytes], lens: np.ndarray, seed: int) -> np.ndarray:
    """:func:`xxh64_bytes` over one block: the strings are zero-padded into
    one byte matrix read as little-endian words, and each step of the
    scalar routine runs for every row at once, masked to the rows whose
    length takes it."""
    m = len(data)
    width = max(8, (int(lens.max()) + 7) // 8 * 8)
    buf = np.frombuffer(
        b"".join(d.ljust(width, b"\0") for d in data), dtype=np.uint8
    ).reshape(m, width)
    w8 = buf.view("<u8")
    w4 = buf.view("<u4")
    n = lens.astype(np.uint64)

    stripes = lens // 32
    h = np.full(m, (seed + _P5) & _M, dtype=np.uint64)
    if stripes.max() > 0:
        v = [
            np.full(m, x & _M, dtype=np.uint64)
            for x in (seed + _P1 + _P2, seed + _P2, seed, seed - _P1)
        ]
        for s in range(int(stripes.max())):
            live = stripes > s
            for j in range(4):
                np.copyto(v[j], _round_v(v[j], w8[:, 4 * s + j]), where=live)
        hs = _rotl_v(v[0], 1) + _rotl_v(v[1], 7) + _rotl_v(v[2], 12) + _rotl_v(v[3], 18)
        zero = np.zeros(m, dtype=np.uint64)
        for x in v:
            hs = (hs ^ _round_v(zero, x)) * _NP1 + _NP4
        h = np.where(stripes > 0, hs, h)
    h = h + n

    pos = stripes * 32  # byte offset of the tail
    n8 = (lens - pos) // 8
    for k in range(3):
        live = n8 > k
        if not live.any():
            break
        w = _gather(w8, pos // 8 + k)
        np.copyto(h, _rotl_v(h ^ _round_v(np.zeros(m, np.uint64), w), 27) * _NP1 + _NP4, where=live)
    pos = pos + 8 * n8
    has4 = lens - pos >= 4
    if has4.any():
        w = _gather(w4, pos // 4)
        np.copyto(h, _rotl_v(h ^ (w * _NP1), 23) * _NP2 + _NP3, where=has4)
        pos = pos + 4 * has4
    for k in range(3):
        live = lens - pos > k
        if not live.any():
            break
        b = _gather(buf, pos + k)
        np.copyto(h, _rotl_v(h ^ (b * _NP5), 11) * _NP1, where=live)
    return _fmix_v(h)


def fold_int_array(h: np.ndarray, value: int) -> np.ndarray:
    """:func:`xxh64_int` of one int literal seeded by each running hash —
    the next step of Spark's child fold, so ``F.xxhash64(col, F.lit(v))``
    is ``fold_int_array(hash_str_array(col), v)``."""
    k = _U(((value & 0xFFFFFFFF) * _P1) & _M)
    x = (h + _U((_P5 + 4) & _M)) ^ k
    return _fmix_v(_rotl_v(x, 23) * _NP2 + _NP3)


def hash_str_array(strings, *int_children: int) -> np.ndarray:
    """:func:`spark_xxhash64_str` over a sequence, bit for bit, as a uint64
    array shaped for the numpy bitmap/table kernels in plans/bloom and
    plans/cuckoo (they ``.view(np.uint64)`` Spark's signed output; this is
    already the unsigned view). Each string is hashed once, in blocks of
    ``_BLOCK`` strings of similar length; int children fold onto the
    string hash through :func:`fold_int_array`."""
    n = len(strings)
    out = np.empty(n, dtype=np.uint64)
    # character length orders the blocks; only the padding depends on it
    order = np.argsort(
        np.fromiter(map(len, strings), dtype=np.int64, count=n), kind="stable"
    )
    for lo in range(0, n, _BLOCK):
        idx = order[lo : lo + _BLOCK]
        data = [strings[i].encode("utf-8") for i in idx]
        lens = np.fromiter(map(len, data), dtype=np.int64, count=len(data))
        out[idx] = _xxh64_block(data, lens, SPARK_DEFAULT_SEED)
    for c in int_children:
        out = fold_int_array(out, c)
    return out
