"""Language identification — fastText-STYLE, not fastText (SURVEY.md M3).

A hashed char-n-gram multinomial Naive-Bayes scorer implementing the
north_rule's "fastText langid" gate (P6). Model = one dense float32
log-probability matrix per n-gram order, trained offline by
``artifacts_build.py`` on the engine's deterministic multilingual corpus
and shipped as an ``.npz`` broadcast artifact (the Spark analog of the
reference's torch checkpoint, SURVEY.md S5). Training and scoring share
one hash kernel (``functions.hashing.ngram_hashes``).

Scoring runs only inside the fused scoring UDF
(``operators/scoring.py``, one Arrow boundary for every model), which
loads the artifact once per Python worker and calls ``score_batch`` on
each Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.hashing import CodeBatch, char_ngram_hashes_flat, ngram_hashes

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

    def score_batch(self, texts: CodeBatch | pd.Series) -> pd.DataFrame:
        """Batch argmax language + posterior confidence of each row's
        ``text[:MAX_CHARS].lower()`` — fully vectorized over a lowered
        CodeBatch (a Series is lowered into one first): one hash per
        sampled char n-gram, per-row log-lik sums by ``reduceat``, no
        Python loop over rows."""
        b = texts if isinstance(texts, CodeBatch) else CodeBatch(texts.fillna("").tolist(), lower=True)
        n_rows = len(b)
        codes, starts = b.codes, b.starts
        # the cut comes before the lower: the buffer's prefix for an ASCII
        # row, but a non-ASCII one (a final sigma, a multi-char lower)
        # has its cut prefix lowered on its own and appended
        cut = np.where(b.src_lens > MAX_CHARS, MAX_CHARS, b.lens)
        own = [i for i in np.flatnonzero(b.src_lens > MAX_CHARS) if not b.texts[i].isascii()]
        if own:
            extra = CodeBatch([b.texts[i][:MAX_CHARS] for i in own], lower=True)
            starts = starts.copy()
            starts[own] = extra.starts + len(codes)
            cut[own] = extra.lens
            codes = np.concatenate((codes, extra.codes))
        ll = np.tile(self.prior.astype(np.float64)[:, None], (1, n_rows))
        n_feats = np.zeros(n_rows, dtype=np.int64)
        codes = np.where(codes == 0, 32, codes)  # a NUL hashes as ' '
        for n in NGRAM_ORDERS:
            # stride-2 sampling: half the n-grams carry far more signal
            # than the decision needs (confidences sit at ~1.0) and the
            # scorer is bandwidth-bound — sampling halves memory traffic.
            # The stride restarts at each row's first n-gram, so a row
            # keeps the same n-grams whatever rows precede it in the batch.
            h, counts = ngram_hashes(codes, starts, cut, n, stride=2)
            if len(h) == 0:
                continue
            first = np.cumsum(counts) - counts
            buckets = (h % np.uint64(N_BUCKETS)).astype(np.int64)
            gathered = self.logp_t[n][buckets]  # (W, L) float32, contiguous rows
            # segment-sum via reduceat over NONEMPTY rows only: a clamped
            # end-of-array boundary would truncate the last feature-bearing
            # row whenever a batch ends with featureless rows
            nonempty = np.flatnonzero(counts)
            seg = np.add.reduceat(gathered, first[nonempty], axis=0)
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
