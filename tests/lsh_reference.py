"""Reference kernels for the MinHash/LSH features pass
(operators/dedup.py minhash64_band_features_udf) and the exact all-pairs
Jaccard the LSH pair sets are checked against. Test-only: each
recomputes its result from raw text without the production signature,
banding or verify code, so equality with the production columns pins
them."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multi_task_offensive_language_detection_spark.functions.hashing import (
    char_ngram_hashes_flat,
)
from multi_task_offensive_language_detection_spark.operators.dedup import (
    _MINHASH_A,
    _MINHASH_MASK,
    char_shingles,
    jaccard,
)


def flat_shingle_hashes_lexsort(texts: pd.Series, n: int):
    """(unique-shingle uint64 hashes sorted by row, row ids, row count)
    — the production _flat_shingle_hashes contract, deduped by ONE
    global lexsort of the (row, hash) stream and an adjacent-duplicate
    drop instead of production's per-row padded sort."""
    tl = [str(t) for t in texts.fillna("")]
    h, rows = char_ngram_hashes_flat(tl, n)
    if len(h) == 0:
        return h, rows, len(tl)
    order = np.lexsort((h, rows))
    h, rows = h[order], rows[order]
    keep = np.concatenate(([True], (h[1:] != h[:-1]) | (rows[1:] != rows[:-1])))
    return h[keep], rows[keep], len(tl)


def minhash64_text_udf(n: int = 5):
    """text → 64-slot MinHash signature, fully vectorized per Arrow batch
    (shingling + hashing + per-slot segment-min all in numpy).

    Works on the RAW (non-deduped) shingle-hash stream — the min of a
    multiset equals the min of its distinct values, while the production
    kernel signs the DEDUPED stream; equality pins that the dedup changes
    nothing about signatures."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            tl = [str(t) for t in s.fillna("")]
            h, rows = char_ngram_hashes_flat(tl, n)
            out = np.full((len(s), 64), np.iinfo(np.int64).max, dtype=np.int64)
            if len(h):
                counts = np.bincount(rows, minlength=len(tl))
                bounds_all = np.concatenate(([0], np.cumsum(counts)))[:-1]
                nonempty = np.nonzero(counts > 0)[0]
                bounds = bounds_all[nonempty]
                with np.errstate(over="ignore"):
                    for j in range(64):
                        mixed = (
                            h * np.uint64((_MINHASH_A * (2 * j + 1)) & _MINHASH_MASK)
                        ) ^ np.uint64((j * 0xC2B2AE3D27D4EB4F) & _MINHASH_MASK)
                        out[nonempty, j] = np.minimum.reduceat(
                            mixed.view(np.int64), bounds
                        )
            yield pd.Series(list(out))

    return _sig


def jaccard_texts_udf(n: int = 5):
    """(text1, text2) → exact distinct-shingle Jaccard, numpy per batch —
    the INDEPENDENT reference for the JVM set-op verify (sh_jaccard):
    re-shingles both sides from raw text and shares only the rolling
    shingle hash (char_ngram_hashes_flat) with the production kernel,
    not its dedup, sh arrays or set ops, so the cross-kernel equivalence
    test pins the whole features→set-ops chain.

    Both sides' per-row-distinct shingle hashes are concatenated as
    (row, hash) pairs and lexsorted once — a (row, hash) appearing twice
    means both sides contain it, so the per-row intersection is one
    bincount over adjacent-duplicate positions."""

    @F.pandas_udf(T.DoubleType())
    def _j(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for a, b in it:
            ha, ra, _ = flat_shingle_hashes_lexsort(a, n)
            hb, rb, _ = flat_shingle_hashes_lexsort(b, n)
            ca = np.bincount(ra, minlength=len(a))
            cb = np.bincount(rb, minlength=len(a))
            rows = np.concatenate([ra, rb])
            hs = np.concatenate([ha, hb])
            order = np.lexsort((hs, rows))
            rs, hh = rows[order], hs[order]
            dup = (rs[1:] == rs[:-1]) & (hh[1:] == hh[:-1])
            inter = np.bincount(rs[1:][dup], minlength=len(a))
            union = ca + cb - inter
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
            yield pd.Series(out)

    return _j


def ngram_jaccard_pairs(df, key_col: str, text_col: str, n: int = 3, threshold: float = 0.8):
    """(k1, k2, jaccard) for every pair with exact n-gram Jaccard ≥
    threshold — the all-pairs oracle LSH pair sets are checked against.
    A full ``a.k < b.k`` self-join, O(n²): small test frames only. Built
    on the live char_shingles and jaccard (the driver's exact-Jaccard
    key uses them too), not on any LSH code."""
    s = df.select(F.col(key_col).alias("k"), char_shingles(F.col(text_col), n).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("k1"),
            F.col("b.k").alias("k2"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
