"""Vectorized n-gram hashing kernels (SURVEY.md F13) — pure numpy.

A batch of texts is decoded once into a ``CodeBatch`` (one utf-32
code-point buffer with row offsets), and one kernel per hash family
reads it, shared by training and scoring:

- ``ngram_hashes`` — rolling FNV over char n-grams; langid training and
  scoring and MinHash shingling (``char_ngram_hashes_flat``);
- ``CodeBatch.tokens`` / ``segment_hashes`` + ``combine_hashes`` —
  whitespace tokens and their unigram and bigram hashes; LM training,
  perplexity scoring and lexicon membership (``token_hash_batch``);
- ``sorted_distinct_per_row`` — each row's distinct hashes; MinHash
  shingle sets and the LM's distinct-token count.

Kernels return raw uint64 hashes; callers bucket them (``h % n_buckets``,
the fastText-style hashing trick) so model artifacts are dense numpy
arrays that broadcast cheaply to executors (no vocabulary dictionaries
to pickle).
"""

from __future__ import annotations

from typing import NamedTuple

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


class CodeBatch:
    """A text batch as ONE utf-32 code-point buffer: row i is
    ``codes[starts[i] : ends[i]]``, followed by one 0 slot (a NUL inside
    a text is 0 too, so kernels find row ends by position). With
    ``lower`` it holds each row's ``str.lower()``: one lower of the
    joined batch, equal to the per-row lower because the separator is
    neither cased nor case-ignorable (a final sigma sees the row end),
    redone per row when a char lowers to several (U+0130). ``texts``
    and ``src_lens`` are the rows as given."""

    __slots__ = ("texts", "codes", "starts", "lens", "ends", "src_lens")

    def __init__(self, texts: list[str], lower: bool = False):
        self.texts = texts
        self.src_lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
        self.lens = self.src_lens
        blob = "\x00".join([*texts, ""])
        if lower:
            low = blob.lower()
            if len(low) != len(blob):
                rows = [t.lower() for t in texts]
                self.lens = np.fromiter(map(len, rows), dtype=np.int64, count=len(rows))
                low = "\x00".join([*rows, ""])
            blob = low
        self.codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
        self.ends = np.cumsum(self.lens + 1) - 1
        self.starts = self.ends - self.lens

    def __len__(self) -> int:
        return len(self.texts)

    def tokens(self) -> "Tokens":
        """The rows' ``str.split()`` tokens (Unicode whitespace, so NBSP
        splits) as buffer spans, with their hashes."""
        word = ~_SPACE[np.minimum(self.codes, len(_SPACE) - 1)]
        word[self.ends] = False  # row separators end a token
        starts, lens = spans(word)
        n_tok = np.diff(np.searchsorted(starts, self.starts), append=len(starts))
        rows = np.repeat(np.arange(len(self), dtype=np.int64), n_tok)
        return Tokens(starts, lens, rows, n_tok, segment_hashes(self.codes, starts, lens))


class Tokens(NamedTuple):
    """Whitespace tokens of a CodeBatch, in text order."""

    starts: np.ndarray  # buffer position of each token's first char
    lens: np.ndarray  # full token length
    rows: np.ndarray  # row id per token (sorted)
    n_tok: np.ndarray  # tokens per row
    hashes: np.ndarray  # segment_hashes value per token


def spans(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(start, length) of each maximal run of True in a bool array."""
    edge = np.diff(mask.view(np.int8), prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(edge == 1)
    return starts, np.flatnonzero(edge == -1) - starts


#: str.split()'s separators: the code points where str.isspace() holds,
#: all below U+3001 (tests pin the table against a scan of every code
#: point); the last slot stands for everything above it
_SPACE = np.zeros(0x3002, dtype=bool)
_SPACE[[c for c in range(0x3001) if chr(c).isspace()]] = True


def ngram_hashes(
    codes: np.ndarray, starts: np.ndarray, lens: np.ndarray, n: int, stride: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Rolling-FNV hashes of every ``stride``-th char n-gram of each span
    ``codes[s : s + l]``, counted from the span start, span after span,
    and the n-gram count per span — the one char n-gram kernel."""
    counts = (np.maximum(lens - n + 1, 0) + stride - 1) // stride
    first = np.cumsum(counts) - counts
    win = np.repeat(starts - stride * first, counts) + stride * np.arange(int(counts.sum()))
    h = np.full(len(win), _H_INIT, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(n):
            h = (h ^ codes[win + k]) * _H_MULT
    return h, counts


def char_ngram_hashes_flat(texts: list[str], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Raw uint64 hashes of all char n-grams of a text batch (a NUL
    inside a text hashes as ' '), row after row in text order, plus the
    row id of each n-gram — langid training and MinHash shingling.
    Callers bucket the values themselves (``h % n_buckets``); MinHash
    keeps full hash identity."""
    b = CodeBatch([t.replace("\x00", " ") for t in texts])
    h, counts = ngram_hashes(b.codes, b.starts, b.lens, n)
    return h, np.repeat(np.arange(len(b), dtype=np.int64), counts)


#: position weights for the polynomial token hash: odd multiplier powers.
_POLY_P = 0x9E3779B97F4A7C15
_TOKEN_PREFIX = 16
_POLY_POW = np.empty(_TOKEN_PREFIX, dtype=np.uint64)
_p = 1
for _k in range(_TOKEN_PREFIX):
    _POLY_POW[_k] = _p
    _p = (_p * _POLY_P) & 0xFFFFFFFFFFFFFFFF
_LEN_MIX = np.uint64(0xC2B2AE3D27D4EB4F)


def segment_hashes(codes: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """uint64 position-weighted polynomial hash of each code-buffer span
    ``codes[s : s + l]`` over its first 16 code points, length-mixed and
    avalanched. One weighted segment-sum (``np.add.reduceat``) over the
    clipped spans; prefix collisions are noise to a count-table LM. Hash
    values are fixed per ``ARTIFACT_VERSION`` (artifacts_build.py)."""
    clip = np.minimum(lens, _TOKEN_PREFIX)
    seg0 = np.cumsum(clip) - clip
    offs = np.arange(int(clip.sum()), dtype=np.int64) - np.repeat(seg0, clip)
    vals = codes[np.repeat(starts, clip) + offs].astype(np.uint64) * _POLY_POW[offs]
    h = np.zeros(len(lens), dtype=np.uint64)
    nonempty = clip > 0
    with np.errstate(over="ignore"):
        if len(vals):
            h[nonempty] = np.add.reduceat(vals, seg0[nonempty])
        h = (h ^ (clip.astype(np.uint64) * _LEN_MIX)) * _H_MULT
        h ^= h >> np.uint64(33)
        h = h * np.uint64(_POLY_P)
        h ^= h >> np.uint64(29)
    return h


def token_hash_batch(tokens: list[str]) -> np.ndarray:
    """``segment_hashes`` of each token of a list: the hash behind the
    LM tables and the lexicons."""
    b = CodeBatch(list(tokens))
    return segment_hashes(b.codes, b.starts, b.lens)


def sorted_distinct_per_row(h: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(each row's distinct values in ascending order, row after row;
    distinct count per row) of uint64 values grouped by row, ``counts[r]``
    of them for row r.

    Each row is sorted on its own rather than the whole stream: the rows
    already arrive grouped, so a global (row, value) lexsort would spend
    most of its time re-deriving that order. Rows are padded into one
    matrix per power-of-two count class, so every matrix holds fewer
    than twice its rows' elements and one huge row cannot blow the
    padding up for the rest of the batch. Padding is the uint64 max and
    sorts last, so each row's first ``count`` sorted slots are exactly
    its own values; a validity mask, not the pad value, marks them (a
    real value may equal the pad)."""
    nrows = len(counts)
    distinct = np.zeros(nrows, dtype=np.int64)
    if len(h) == 0:
        return h, distinct
    # count class: the exponent of the smallest power of two >= count
    cls = np.frexp(np.maximum(counts, 1) - 1)[1]
    elem_cls = np.repeat(cls, counts)
    sorted_cls = []
    for c in np.unique(cls[counts > 0]):
        r = np.flatnonzero((cls == c) & (counts > 0))
        valid = np.arange(1 << int(c)) < counts[r][:, None]
        m = np.full(valid.shape, np.iinfo(np.uint64).max, dtype=np.uint64)
        m[valid] = h[elem_cls == c]  # row-major order == stream order
        m.sort(axis=1)
        valid[:, 1:] &= m[:, 1:] != m[:, :-1]
        distinct[r] = valid.sum(axis=1)
        sorted_cls.append((r, m[valid]))
    ends = np.cumsum(distinct)
    out = np.empty(int(ends[-1]), dtype=np.uint64)
    for r, vals in sorted_cls:
        nd = distinct[r]
        # ``vals`` holds the class's rows back to back: shift each row's
        # run from its start there (cumsum(nd) - nd) to its start in
        # ``out`` (ends[r] - nd)
        out[np.repeat(ends[r] - np.cumsum(nd), nd) + np.arange(len(vals))] = vals
    return out, distinct


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
