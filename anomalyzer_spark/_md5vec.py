"""Vectorized MD5 (RFC 1321) for the hash-permutation spec's digest batches.

The portable permutation spec (SURVEY §2.6.9, oracle.perm_matrix) needs
``perm_count × n`` md5 digests per (key, test) — with the reference
defaults that is thousands of ``hashlib.md5`` calls per key, ~1.1 µs each.
This module computes the same digests with NumPy array ops: the 64 MD5
rounds run once per BATCH over uint32 vectors instead of once per message,
amortizing the Python dispatch. At the 4-test, 13-byte prefix,
perm_count=500, n=5 batch (10k messages per key) one core of an AMD EPYC
host takes 0.61 ms per key (61 ns/digest), against 4.3 ms for the
hashlib loop and 1.42 ms for the byte-matrix assembly this replaced;
identical bytes out (pinned against hashlib in
tests/test_oracle_properties.py).

Message words come from a cached word TEMPLATE (``_template``): only the
prefix ``seed|key|test|`` depends on the key, while the ``rep|pos``
suffix, the 0x80 terminator and the bit length depend only on (prefix
length, perm_count, n). The template holds those words in word-major
(block, word) → row-vector order; per key, the prefix words are OR'd in,
and every word that is equal across the batch (zero padding, the shared
prefix, an equal bit length) stays a scalar folded into the round
constant, so the rounds touch only the words that really vary. The
suffix bytes are cached per (perm_count, n); a template for a new prefix
length or n is built from them with whole-array writes (~0.16 ms at
perm_count=500, n=5), so a template miss stays cheap when keys vary in
length and history. With 4 tests and perm_count=500, one key's
``oracle.perm_matrices`` takes 1.17 ms for 1- to 7-digit keys and n drawn
from 2–12 (the byte-matrix kernel: 3.0 ms), against 0.91 ms for uniform
7-character keys at n=5 (byte-matrix: 1.71 ms).

This is plain RFC 1321 restated in NumPy — all round constants are the
standard ``floor(abs(sin(i+1))·2^32)`` table. Only LITTLE-endian hosts run
the vectorized path (the word packing views raw bytes as '<u4'); on a
big-endian host ``perm_digest_batch`` runs the hashlib loop, so results
are identical everywhere.

Why not optimize the spec instead: the digest preimage layout is shared
verbatim with the DuckDB SQL oracle (md5 over ``seed|key|test|rep|pos``),
so the spec cannot get cheaper without changing the correctness contract;
this module changes only who computes the md5. The Philox
``perm_spec="fast"`` path remains the production choice at extreme key
cardinality (oracle.perm_matrix_fast). Batching several KEYS into one
pass is slower, not faster (ROADMAP, measured negative).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np

_LITTLE = bool(np.little_endian)

# RFC 1321 tables: per-round left-rotate amounts, sine-derived addends, and
# the message-word index pattern of each round group.
_S = [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 \
    + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4
_K = [int(abs(np.sin(i + 1)) * 2 ** 32) & 0xFFFFFFFF for i in range(64)]
_G = list(range(16)) + [(5 * i + 1) % 16 for i in range(16, 32)] \
    + [(3 * i + 5) % 16 for i in range(32, 48)] \
    + [(7 * i) % 16 for i in range(48, 64)]
_SL = [np.uint32(s) for s in _S]
_SR = [np.uint32(32 - s) for s in _S]
_KU = [np.uint32(k) for k in _K]
_IV = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)


def _words(M: np.ndarray) -> list[list]:
    """(rows, B, 16) uint32 message words → word-major [block][word]
    entries: a Python int where the word is equal across the rows, else
    a read-only (rows,) uint32 vector."""
    out = []
    for blk in np.ascontiguousarray(M.transpose(1, 2, 0)):  # (B, 16, rows)
        row = []
        for col in blk:
            if (col == col[0]).all():
                row.append(int(col[0]))
            else:  # a copy, so the cache keeps only the varying words
                col = col.copy()
                col.flags.writeable = False
                row.append(col)
        out.append(row)
    return out


def _rounds(words: list[list], shape: tuple[int, int],
            nblocks: np.ndarray | None) -> np.ndarray:
    """The 64 MD5 rounds per block over a (prefixes, rows) grid of
    messages, in place on preallocated buffers. ``words``: [block][word]
    entries (see ``_words``) that broadcast against ``shape``: an int, a
    (rows,) template vector or a (prefixes, 1) prefix column. ``nblocks``:
    each row's own block count, or None when every row has ``len(words)``
    blocks. Returns ``shape`` 'S16' raw digests."""
    state = [np.full(shape, v, dtype=np.uint32) for v in _IV]
    A, B, C, D = (np.empty(shape, dtype=np.uint32) for _ in range(4))
    f = np.empty(shape, dtype=np.uint32)
    t = np.empty(shape, dtype=np.uint32)
    xor, band, bor, add = (np.bitwise_xor, np.bitwise_and, np.bitwise_or,
                           np.add)
    for blk, M in enumerate(words):
        for buf, s in zip((A, B, C, D), state):
            np.copyto(buf, s)
        for i in range(64):
            if i < 16:  # D ^ (B & (C ^ D)) == (B & C) | (~B & D)
                xor(C, D, out=f)
                band(f, B, out=f)
                xor(f, D, out=f)
            elif i < 32:  # C ^ (D & (B ^ C)) == (D & B) | (~D & C)
                xor(B, C, out=f)
                band(f, D, out=f)
                xor(f, C, out=f)
            elif i < 48:
                xor(B, C, out=f)
                xor(f, D, out=f)
            else:  # C ^ (B | ~D)
                np.invert(D, out=f)
                bor(f, B, out=f)
                xor(f, C, out=f)
            add(f, A, out=f)
            m = M[_G[i]]
            if isinstance(m, int):  # uniform word: fold into the constant
                add(f, np.uint32((_K[i] + m) & 0xFFFFFFFF), out=f)
            else:
                add(f, m, out=f)
                add(f, _KU[i], out=f)
            np.left_shift(f, _SL[i], out=t)
            np.right_shift(f, _SR[i], out=f)
            bor(f, t, out=f)
            add(B, f, out=A)  # new B lands in A's (now dead) buffer
            A, B, C, D = D, A, B, C
        if nblocks is None:
            for s, buf in zip(state, (A, B, C, D)):
                add(s, buf, out=s)
        else:
            # a row is live only while blk is within ITS padded length —
            # freezing finished rows is what makes mixed lengths correct
            live = blk < nblocks
            for s, buf in zip(state, (A, B, C, D)):
                np.add(s, buf, out=s, where=live)
    # (prefixes, rows, 4) '<u4' state words are the digest bytes in order
    return np.stack(state, axis=-1).view("S16")[..., 0]


def _digests_hashlib(prefixes: list[bytes], perm_count: int,
                     n: int) -> np.ndarray:
    """Reference implementation (also the big-endian fallback)."""
    out = np.empty((len(prefixes), perm_count, n), dtype="S16")
    for p, pre in enumerate(prefixes):
        for r in range(perm_count):
            for j in range(n):
                out[p, r, j] = hashlib.md5(pre + f"{r}|{j}".encode()
                                           ).digest()
    return out


@functools.lru_cache(maxsize=None)
def _suffixes(perm_count: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The ``{r}|{j}`` tails of every message, row r·n + j: a zero-padded
    (rows, width) uint8 matrix and each row's length."""
    sufs = np.array([f"{r}|{j}".encode()
                     for r in range(perm_count) for j in range(n)])
    sufs.flags.writeable = False
    return (sufs.view(np.uint8).reshape(len(sufs), -1),
            np.char.str_len(sufs).astype(np.int64))


# 64 templates hold ~2 MB at perm_count=500, n=5 (3 varying words of
# 2,500 rows each) and at most ~130 MB at perm_count=1000, n=101.
@functools.lru_cache(maxsize=64)
def _template(plen: int, perm_count: int, n: int):
    """Key-independent words of every ``<prefix>{r}|{j}`` message whose
    prefix is ``plen`` bytes long: the suffix, the terminator and the bit
    length, with the prefix bytes left zero. Built from the cached suffix
    bytes with whole-array writes, so a miss (a new prefix length or n)
    costs ~0.16 ms at perm_count=500, n=5. Returns ([block][word] words,
    per-row block counts or None when all rows share one)."""
    suf, lens = _suffixes(perm_count, n)
    rows = len(lens)
    lengths = plen + lens
    nblocks = (lengths + 9 + 63) // 64
    B = int(nblocks.max())
    buf = np.zeros((rows, B * 64), dtype=np.uint8)
    buf[:, plen : plen + suf.shape[1]] = suf
    r_idx = np.arange(rows)
    buf[r_idx, lengths] = 0x80  # RFC padding terminator
    bitlen = lengths.astype(np.uint64) * 8
    off = nblocks * 64 - 8  # final-block trailer holds the bit length (LE)
    for k in range(8):
        buf[r_idx, off + k] = (
            (bitlen >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(np.uint8)
    uniform = bool((nblocks == B).all())
    return (_words(buf.view("<u4").reshape(rows, B, 16)),
            None if uniform else nblocks)


def perm_digest_batch(
    prefixes: list[bytes], perm_count: int, n: int
) -> np.ndarray:
    """Digest matrices for several permutation-spec prefixes in ONE
    vectorized pass: returns (len(prefixes), perm_count, n) 'S16' where
    entry [p, r, j] = md5(prefixes[p] + b"{r}|{j}"). Batching every
    prefix (typically one per MC test of a key) amortizes the fixed
    per-call cost of the 64 vectorized rounds. Byte-identical to
    ``hashlib.md5`` for every message length, multi-block ones included;
    a big-endian host runs the hashlib loop itself."""
    if not _LITTLE:
        return _digests_hashlib(prefixes, perm_count, n)
    out = np.empty((len(prefixes), perm_count, n), dtype="S16")
    if not perm_count * n:
        return out
    by_len: dict[int, list[int]] = {}
    for p, pre in enumerate(prefixes):
        by_len.setdefault(len(pre), []).append(p)
    for plen, idx in by_len.items():
        words, nblocks = _template(plen, perm_count, n)
        words = [list(row) for row in words]
        raw = np.zeros((len(idx), -(-plen // 4) * 4), dtype=np.uint8)
        for i, p in enumerate(idx):
            raw[i, :plen] = np.frombuffer(prefixes[p], dtype=np.uint8)
        pw = raw.view("<u4")  # (len(idx), words the prefix reaches)
        for w, same in enumerate((pw == pw[0]).all(axis=0).tolist()):
            row, col = words[w // 16], w % 16
            m = row[col]
            if same and isinstance(m, int):
                row[col] = m | int(pw[0, w])
            elif same:
                if pw[0, w]:
                    row[col] = np.bitwise_or(m, pw[0, w])
            else:  # (len(idx), 1) prefix column, broadcast over the rows
                row[col] = np.bitwise_or(pw[:, w : w + 1], np.uint32(m)
                                         if isinstance(m, int) else m)
        digests = _rounds(words, (len(idx), perm_count * n), nblocks)
        out[idx] = digests.reshape(len(idx), perm_count, n)
    return out
