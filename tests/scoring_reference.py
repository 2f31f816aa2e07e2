"""Reference kernels for the fused scoring UDF's text signals
(operators/scoring.py). Test-only: each row is normalized, lowered,
split and hashed on its own with ``str`` methods and a scalar token
hash, the way the UDF scored before it read one code-point buffer per
batch, so equality with the production kernels pins that buffer."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from multi_task_offensive_language_detection_spark.functions.hashing import (
    char_ngram_hashes_flat,
    combine_hashes,
)
from multi_task_offensive_language_detection_spark.operators.langid import (
    MAX_CHARS,
    N_BUCKETS,
    NGRAM_ORDERS,
)
from multi_task_offensive_language_detection_spark.operators.perplexity import (
    BACKOFF,
    BI_BUCKETS,
    P_UNK,
    UNI_BUCKETS,
)
from multi_task_offensive_language_detection_spark.operators.scoring import SIG_AT_USER
from tests.lexicon_reference import lexicon_score_standalone

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_WS_GUARD = re.compile(r"[ \t\n\x0b\f\r][ \t\n\x0b\f\r]|[\t\n\r]")
_ASCII_UPPER = re.compile(r"[A-Z]")

_M64 = (1 << 64) - 1
_H_MULT = 0x100000001B3
_POLY_P = 0x9E3779B97F4A7C15
_LEN_MIX = 0xC2B2AE3D27D4EB4F


def normalize_ref(t: str | None) -> str:
    """The JVM chain ``normalize_ws(lower_guarded(x))``, NULL as ''."""
    t = "" if t is None else t
    if _ASCII_UPPER.search(t):
        t = t.lower()
    if _WS_GUARD.search(t):
        t = _JAVA_WS.sub(" ", t)
    return t.strip(" ")


def token_hash_ref(tok: str) -> int:
    """Scalar form of the token hash: polynomial over the first 16 code
    points, length-mixed, avalanched."""
    cps = [ord(c) for c in tok[:16]]
    h, p = 0, 1
    for c in cps:
        h = (h + c * p) & _M64
        p = (p * _POLY_P) & _M64
    h = ((h ^ (len(cps) * _LEN_MIX & _M64)) * _H_MULT) & _M64
    h ^= h >> 33
    h = (h * _POLY_P) & _M64
    h ^= h >> 29
    return h


def langid_ref(model, norm: list[str]) -> pd.DataFrame:
    """Each row's ``text[:MAX_CHARS].lower()`` scored with the stride-2
    n-gram sample restarting per row."""
    tl = [t[:MAX_CHARS].lower() for t in norm]
    n_rows = len(tl)
    ll = np.tile(model.prior.astype(np.float64)[:, None], (1, n_rows))
    n_feats = np.zeros(n_rows, dtype=np.int64)
    for n in NGRAM_ORDERS:
        h, rows = char_ngram_hashes_flat(tl, n)
        if len(h) == 0:
            continue
        first = np.searchsorted(rows, np.arange(n_rows))
        keep = (np.arange(len(rows)) - first[rows]) % 2 == 0
        h, rows = h[keep], rows[keep]
        gathered = model.logp_t[n][(h % np.uint64(N_BUCKETS)).astype(np.int64)]
        counts = np.bincount(rows, minlength=n_rows)
        nonempty = np.flatnonzero(counts)
        bounds = np.concatenate(([0], np.cumsum(counts)))[:-1]
        ll[:, nonempty] += np.add.reduceat(gathered, bounds[nonempty], axis=0).T
        n_feats += counts
    z = ll / np.maximum(n_feats, 1)[None, :]
    z = z - z.max(axis=0, keepdims=True)
    p = np.exp(z * 50.0)
    p /= p.sum(axis=0, keepdims=True)
    k = np.argmax(p, axis=0)
    langs = np.asarray(model.langs, dtype=object)[k]
    confs = p[k, np.arange(n_rows)]
    langs[n_feats == 0] = "und"
    confs[n_feats == 0] = 0.0
    return pd.DataFrame({"lang": langs, "conf": confs})


def lm_ref(lm, norm: list[str]):
    """(ppl, n_tokens, rep_tok_ratio) over each row's lowered
    ``str.split()`` tokens, distinct tokens counted with a global
    (row, hash) lexsort."""
    toks = [t.lower().split() for t in norm]
    n_tok = np.array([len(t) for t in toks], dtype=np.int64)
    rows = np.repeat(np.arange(len(toks)), n_tok)
    h = np.array([token_hash_ref(w) for ts in toks for w in ts], dtype=np.uint64)
    c1 = lm.uni[(h % np.uint64(UNI_BUCKETS)).astype(np.int64)].astype(np.float64)
    p = np.where(c1 > 0, BACKOFF * c1 / lm.total, BACKOFF * P_UNK)
    if len(h) >= 2:
        same_row = rows[:-1] == rows[1:]
        g = combine_hashes(h[:-1], h[1:])
        c2 = lm.bi[(g % np.uint64(BI_BUCKETS)).astype(np.int64)].astype(np.float64)
        prev, cur = c1[:-1], c1[1:]
        ok = same_row & (c2 > 0) & (prev > 0) & (cur > 0)
        p[1:] = np.maximum(p[1:], np.where(ok, c2 / np.maximum(prev, 1), 0.0))
    sums = np.bincount(rows, weights=np.log(np.maximum(p, 1e-300)), minlength=len(toks))
    with np.errstate(divide="ignore", invalid="ignore"):
        ppl = np.exp(-sums / np.maximum(n_tok, 1))
        order = np.lexsort((h, rows))
        hs, rs = h[order], rows[order]
        first = np.concatenate(([True], (hs[1:] != hs[:-1]) | (rs[1:] != rs[:-1])))[: len(hs)]
        rep = 1.0 - np.bincount(rs[first], minlength=len(toks)) / n_tok
    ppl[n_tok == 0] = np.inf
    rep[n_tok == 0] = 0.0
    return ppl, n_tok, rep


def signals_ref(lex, norm: list[str]):
    """(prof_hits, sig) from the \\w+ runs of each lowered row, plus the
    ``@user`` substring bit."""
    prof, sig = lexicon_score_standalone(lex, [t.lower() for t in norm])
    sig[np.array(["@user" in t for t in norm], dtype=bool)] |= SIG_AT_USER
    return prof, sig
