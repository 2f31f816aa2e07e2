"""Vectorized n-gram hashing kernels (SURVEY.md F13) — pure numpy.

One kernel per hash family, shared by training and scoring:

- ``char_ngram_hashes_flat`` — rolling FNV over char n-grams; langid
  training, langid scoring and MinHash shingling;
- ``token_hash_batch`` / ``token_hash_batch_ex`` + ``combine_hashes`` —
  word unigrams and bigrams; LM training, perplexity scoring and lexicon
  membership.

Kernels return raw uint64 hashes; callers bucket them (``h % n_buckets``,
the fastText-style hashing trick) so model artifacts are dense numpy
arrays that broadcast cheaply to executors (no vocabulary dictionaries
to pickle). Everything operates on batches (lists/Series of strings).
"""

from __future__ import annotations

import numpy as np

# FNV-1a-style constants; fixed forever (artifact compatibility).
_H_INIT = np.uint64(0xCBF29CE484222325)
_H_MULT = np.uint64(0x100000001B3)


def hash_bytes_u64(data: bytes) -> int:
    """FNV-1a of a byte string → uint64 (scalar; used for keys/fingerprints)."""
    h = int(_H_INIT)
    for b in data:
        h = ((h ^ b) * int(_H_MULT)) & 0xFFFFFFFFFFFFFFFF
    return h


def char_ngram_hashes_flat(texts: list[str], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Raw uint64 rolling-FNV hashes of all char n-grams of a text batch,
    plus the row id of each n-gram — the one char kernel behind langid
    training, langid scoring and MinHash shingling.

    One rolling hash runs over ALL texts joined by a NUL separator (NULs
    inside a text become ' '); windows crossing a separator are masked
    out, so every row gets exactly the n-grams it would get alone, in
    text order, and row ids come out sorted. Callers bucket the values
    themselves (``h % n_buckets``); MinHash keeps full hash identity."""
    if not texts:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    blob = "\x00".join(t.replace("\x00", " ") for t in texts)
    codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(codes) < n:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    n_win = len(codes) - n + 1
    h = np.full(n_win, _H_INIT, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(n):
            h = (h ^ codes[k : k + n_win]) * _H_MULT
    sep = (codes == 0).astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(sep)))
    valid = (csum[n:] - csum[:-n]) == 0
    win_start = np.nonzero(valid)[0]
    text_starts = np.concatenate(([0], np.nonzero(sep)[0] + 1))
    row_ids = np.searchsorted(text_starts, win_start, side="right") - 1
    return h[valid], row_ids


#: position weights for the polynomial token hash: odd multiplier powers.
_POLY_P = 0x9E3779B97F4A7C15
_TOKEN_PREFIX = 16
_POLY_POW = np.empty(_TOKEN_PREFIX, dtype=np.uint64)
_p = 1
for _k in range(_TOKEN_PREFIX):
    _POLY_POW[_k] = _p
    _p = (_p * _POLY_P) & 0xFFFFFFFFFFFFFFFF
_LEN_MIX = np.uint64(0xC2B2AE3D27D4EB4F)


def token_hash_batch(tokens: list[str] | np.ndarray) -> np.ndarray:
    """uint64 position-weighted polynomial hash over utf-32 code units of
    each token (first 16 chars) — fully vectorized AND single-pass: one
    encode of the concatenated batch, one weighted segment-sum via
    ``np.add.reduceat`` over token boundaries, then a scalar avalanche.
    This is the hot kernel of the perplexity gate; it replaced a 16-round
    padded-matrix FNV loop (~16× the memory traffic) which itself
    replaced a per-token Python loop (~50× slower still). Hash values are
    deterministic per version — artifacts bucketed with it are rebuilt on
    ARTIFACT_VERSION bumps (artifacts_build.py)."""
    h, _ = token_hash_batch_ex(tokens, want_pure=False)
    return h


#: ASCII \w test table over utf-32 code units (Java-regex default classes)
_WORDCHAR = np.zeros(128, dtype=bool)
for _c in range(128):
    _WORDCHAR[_c] = chr(_c).isalnum() and ord(chr(_c)) < 128 or _c == 0x5F


def token_hash_batch_ex(
    tokens: list[str] | np.ndarray, want_pure: bool = True
) -> tuple[np.ndarray, np.ndarray | None]:
    """(hashes, pure_word_mask) for a token batch.

    ``pure_word_mask[i]`` is True when token i consists entirely of ASCII
    ``\\w`` chars — i.e. the token IS a maximal word-char run, so lexicon
    membership by hash equals the ``\\b(word)\\b`` regex semantic without
    re-tokenizing (operators/scoring.py uses this to share the perplexity
    gate's token stream). Purity is judged on the full token; hashing uses
    the first 16 chars (prefix collisions are noise to a count-table LM).
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=bool)
    full_lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    clipped = [t[:_TOKEN_PREFIX] for t in tokens]
    lens = np.minimum(full_lens, _TOKEN_PREFIX)
    blob = "".join(clipped)
    codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    offs = np.arange(len(codes), dtype=np.int64) - np.repeat(starts, lens)
    with np.errstate(over="ignore"):
        vals = codes.astype(np.uint64) * _POLY_POW[offs]
        h = np.zeros(n, dtype=np.uint64)
        nonempty = lens > 0
        if len(codes):
            sums = np.add.reduceat(vals, starts[nonempty])
            h[nonempty] = sums
        # mix in length + avalanche so short/padded sums disperse
        h = (h ^ (lens.astype(np.uint64) * _LEN_MIX)) * np.uint64(_H_MULT)
        h ^= h >> np.uint64(33)
        h = h * np.uint64(_POLY_P)
        h ^= h >> np.uint64(29)
    if not want_pure:
        return h, None
    # purity: every char (of the FULL token) is ASCII \w. Chars beyond the
    # 16-char hash prefix still count against purity, so re-check those
    # rare long tokens scalar-side.
    is_w = np.zeros(len(codes), dtype=bool)
    small = codes < 128
    is_w[small] = _WORDCHAR[codes[small]]
    pure = np.ones(n, dtype=bool)
    if len(codes):
        impure_counts = np.add.reduceat(
            (~is_w).astype(np.int64), starts[nonempty]
        )
        pure[nonempty] = impure_counts == 0
    long_toks = np.nonzero(full_lens > _TOKEN_PREFIX)[0]
    for i in long_toks:
        t = tokens[i]
        pure[i] = pure[i] and all(
            (c.isalnum() and ord(c) < 128) or c == "_" for c in t[_TOKEN_PREFIX:]
        )
    return h, pure


def combine_hashes(h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Order-sensitive combiner for n-gram hashes from unigram hashes."""
    with np.errstate(over="ignore"):
        return (h1 * _H_MULT) ^ h2


# --- Spark-compatible XxHash64 over long columns (vectorized) -----------------
#
# Bit-exact numpy replica of Catalyst's ``xxhash64(col1, ..., colk)`` over
# LongType inputs: Spark chains XXH64.hashLong(value, seed) left-to-right
# starting from seed 42 (org.apache.spark.sql.catalyst.expressions.XXH64,
# which implements the public xxHash spec's single-long finalization).
# Lets Arrow-stage kernels emit the SAME band-bucket hashes the JVM
# banding expression would produce — pinned against F.xxhash64 by
# tests/test_dedup_similarity.py.

_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _xxh64_rotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> (np.uint64(64) - rr))


def _xxh64_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _XXH_P2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXH_P3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_hash_long(val: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _XXH_P5 + np.uint64(8)
    h = h ^ (_xxh64_rotl(val * _XXH_P2, 31) * _XXH_P1)
    h = _xxh64_rotl(h, 27) * _XXH_P1 + _XXH_P4
    return _xxh64_fmix(h)


def xxhash64_longs(cols: list[np.ndarray], seed: int = 42) -> np.ndarray:
    """Vectorized Spark ``xxhash64`` over k uint64 columns (same-length
    arrays). Returns uint64; view as int64 for the JVM's signed value."""
    with np.errstate(over="ignore"):
        h = np.full(len(cols[0]), np.uint64(seed), dtype=np.uint64)
        for c in cols:
            h = _xxh64_hash_long(np.ascontiguousarray(c, dtype=np.uint64), h)
    return h
