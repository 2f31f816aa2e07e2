"""Language identification — fastText-STYLE, not fastText (SURVEY.md M3).

A hashed char-n-gram multinomial Naive-Bayes scorer implementing the
north_rule's "fastText langid" gate (P6). Model = one dense float32
log-probability matrix per n-gram order, trained offline by
``artifacts_build.py`` on the engine's deterministic multilingual corpus
and shipped as an ``.npz`` broadcast artifact (the Spark analog of the
reference's torch checkpoint, SURVEY.md S5). Training and scoring share
one hash kernel (``functions.hashing.char_ngram_hashes_flat``).

Scoring runs only inside the fused scoring UDF
(``operators/scoring.py``, one Arrow boundary for every model), which
loads the artifact once per Python worker and calls ``score_batch`` on
each Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.hashing import char_ngram_hashes_flat

NGRAM_ORDERS = (3,)
N_BUCKETS = 1 << 16
#: chars of text consulted per row — language ID saturates long before
#: this; capping bounds memory traffic per row (the scorer is
#: bandwidth-bound, not compute-bound)
MAX_CHARS = 128


class LangidModel:
    """Dense NB model: ``logp[order][lang_idx, bucket]`` float32."""

    def __init__(self, langs: list[str], logp: dict[int, np.ndarray], prior: np.ndarray):
        self.langs = langs
        self.logp = logp
        # bucket-major copy for scoring: gathering rows of a (buckets, L)
        # table is contiguous (L floats per bucket); gathering columns of
        # the (L, buckets) artifact layout strides N_BUCKETS·4 bytes per
        # element — ~2× slower on the batch-scoring hot path
        self.logp_t = {n: np.ascontiguousarray(m.T) for n, m in logp.items()}
        self.prior = prior

    @classmethod
    def train(cls, corpus: list[tuple[str, str]], alpha: float = 0.5) -> "LangidModel":
        """corpus: (lang, text) pairs; add-alpha smoothed bucket counts —
        one pass of the scoring kernel over the whole corpus, one
        bincount keyed by (language, bucket)."""
        langs = sorted({lang for lang, _ in corpus})
        idx = {lang: i for i, lang in enumerate(langs)}
        lang_idx = np.fromiter(
            (idx[lang] for lang, _ in corpus), dtype=np.int64, count=len(corpus)
        )
        texts = [text.lower() for _, text in corpus]
        logp: dict[int, np.ndarray] = {}
        for n in NGRAM_ORDERS:
            h, rows = char_ngram_hashes_flat(texts, n)
            key = lang_idx[rows] * N_BUCKETS + (h % np.uint64(N_BUCKETS)).astype(np.int64)
            counts = np.bincount(key, minlength=len(langs) * N_BUCKETS)
            c = counts.reshape(len(langs), N_BUCKETS) + alpha
            logp[n] = np.log(c / c.sum(axis=1, keepdims=True)).astype(np.float32)
        n_docs = np.bincount(lang_idx, minlength=len(langs)).astype(np.float64)
        prior = np.log(n_docs / n_docs.sum()).astype(np.float32)
        return cls(langs, logp, prior)

    def save(self, path: str) -> None:
        np.savez_compressed(
            path,
            langs=np.array(self.langs),
            prior=self.prior,
            **{f"logp_{n}": self.logp[n] for n in NGRAM_ORDERS},
        )

    @classmethod
    def load(cls, path: str) -> "LangidModel":
        z = np.load(path, allow_pickle=False)
        return cls(
            langs=[str(x) for x in z["langs"]],
            logp={n: z[f"logp_{n}"] for n in NGRAM_ORDERS},
            prior=z["prior"],
        )

    def score_batch(self, texts: pd.Series) -> pd.DataFrame:
        """Batch argmax language + posterior confidence — fully vectorized:
        ONE rolling hash over the whole Arrow batch, per-row log-lik sums
        via bincount, no Python loop over rows."""
        tl = [str(t)[:MAX_CHARS].lower() for t in texts.fillna("")]
        n_rows = len(tl)
        ll = np.tile(self.prior.astype(np.float64)[:, None], (1, n_rows))
        n_feats = np.zeros(n_rows, dtype=np.int64)
        for n in NGRAM_ORDERS:
            h, rows = char_ngram_hashes_flat(tl, n)
            if len(h) == 0:
                continue
            # stride-2 sampling: half the n-grams carry far more signal
            # than the decision needs (confidences sit at ~1.0) and the
            # scorer is bandwidth-bound — sampling halves memory traffic.
            # The stride restarts at each row's first n-gram, so a row
            # keeps the same n-grams whatever rows precede it in the batch.
            first = np.searchsorted(rows, np.arange(n_rows))
            keep = (np.arange(len(rows)) - first[rows]) % 2 == 0
            h, rows = h[keep], rows[keep]
            buckets = (h % np.uint64(N_BUCKETS)).astype(np.int64)
            gathered = self.logp_t[n][buckets]  # (W, L) float32, contiguous rows
            # segment-sum via reduceat over NONEMPTY rows only (rows are
            # sorted by construction). Boundaries come from cumsum of the
            # per-row counts restricted to rows that actually have features
            # — clamping an end-of-array boundary would instead truncate
            # the last feature-bearing row whenever a batch ends with
            # featureless rows, making scores batch-composition-dependent.
            counts = np.bincount(rows, minlength=n_rows)
            nonempty = np.nonzero(counts > 0)[0]
            if len(nonempty):
                bounds_all = np.concatenate(([0], np.cumsum(counts)))[:-1]
                seg = np.add.reduceat(gathered, bounds_all[nonempty], axis=0)
                ll[:, nonempty] += seg.T
            n_feats += counts
        # length-normalized posterior (softmax over mean log-lik, sharpened)
        z = ll / np.maximum(n_feats, 1)[None, :]
        z = z - z.max(axis=0, keepdims=True)
        p = np.exp(z * 50.0)
        p /= p.sum(axis=0, keepdims=True)
        k = np.argmax(p, axis=0)
        langs = np.asarray(self.langs, dtype=object)[k]
        confs = p[k, np.arange(n_rows)]
        langs[n_feats == 0] = "und"
        confs[n_feats == 0] = 0.0
        return pd.DataFrame({"lang": langs, "conf": confs})
