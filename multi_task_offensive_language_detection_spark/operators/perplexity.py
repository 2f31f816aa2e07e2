"""Word-level perplexity gate — KenLM-STYLE, not KenLM (SURVEY.md M4).

Hashed unigram + bigram count tables (dense numpy int64 arrays — the
hashing trick again, no vocab dict) with Stupid Backoff scoring
(Brants et al. 2007, public):

    p(wᵢ | wᵢ₋₁) = c₂(wᵢ₋₁,wᵢ) / c₁(wᵢ₋₁)          if c₂ > 0
                 = λ · c₁(wᵢ) / N                   elif c₁(wᵢ) > 0
                 = λ · P_UNK                        otherwise

    ppl(text)   = exp( − mean log p )

Unigram-heavy backoff is deliberate: the gate must separate "known-word
English" (low ppl even when word ORDER is novel) from pseudo-word
gibberish (unseen unigrams → P_UNK floor → ppl ≥ 10⁶), which is the
quality-filter semantic the north_rule asks for — not next-word modeling.

Trained offline by artifacts_build.py on the engine's English corpus
(includes the scrub placeholder tokens so post-scrub transcripts score
over a fully known vocabulary); shipped as .npz broadcast artifact.
Training and scoring share one tokenization and hash kernel
(``functions.hashing.CodeBatch.tokens`` + ``combine_hashes``).

Scoring runs only inside the fused scoring UDF
(``operators/scoring.py``), which loads the artifact once per Python
worker and calls ``ppl_stats_batch`` on each Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.hashing import CodeBatch, combine_hashes, sorted_distinct_per_row

UNI_BUCKETS = 1 << 18
BI_BUCKETS = 1 << 20
BACKOFF = 0.4
P_UNK = 1e-9


class NgramLM:
    def __init__(self, uni: np.ndarray, bi: np.ndarray, total: int):
        self.uni = uni
        self.bi = bi
        self.total = total

    @classmethod
    def train(cls, texts: list[str]) -> "NgramLM":
        """Unigram and same-row bigram bucket counts — one pass of the
        scoring kernel over the whole corpus's token stream."""
        tok = CodeBatch(texts, lower=True).tokens()
        h, rows = tok.hashes, tok.rows
        uni = np.bincount((h % np.uint64(UNI_BUCKETS)).astype(np.int64), minlength=UNI_BUCKETS)
        g = combine_hashes(h[:-1], h[1:])[rows[:-1] == rows[1:]]
        bi = np.bincount((g % np.uint64(BI_BUCKETS)).astype(np.int64), minlength=BI_BUCKETS)
        return cls(uni, bi, len(h))

    def save(self, path: str) -> None:
        np.savez_compressed(path, uni=self.uni, bi=self.bi, total=np.int64(self.total))

    @classmethod
    def load(cls, path: str) -> "NgramLM":
        z = np.load(path, allow_pickle=False)
        return cls(z["uni"], z["bi"], int(z["total"]))

    def ppl(self, text: str) -> float:
        return float(self.ppl_stats_batch(pd.Series([text]))[0][0])

    def ppl_stats_batch(self, texts: CodeBatch | pd.Series, return_stream: bool = False):
        """Batch Stupid-Backoff perplexity of each row's lowered
        ``str.split()`` tokens — one vectorized pass over the flattened
        token stream of a lowered CodeBatch (a Series is lowered into one
        first), per-row reduction via bincount. No Python loop.

        Returns ``(ppl, n_tokens, rep_tok_ratio)`` ndarrays: the token
        stream is already split and hashed for scoring, so the token
        count and the token-repeat ratio (1 − distinct/total, distinct
        by token hash — 16-char-prefix exact, see segment_hashes) fall
        out of the same pass.

        With ``return_stream`` a 4th element ``(batch, tokens)`` is
        returned so the lexicon signals (operators/scoring.py) reuse this
        tokenization and hash pass instead of paying their own."""
        b = texts if isinstance(texts, CodeBatch) else CodeBatch(texts.fillna("").tolist(), lower=True)
        tok = b.tokens()
        h, rows, n_tok = tok.hashes, tok.rows, tok.n_tok
        n_rows = len(b)
        c1 = self.uni[(h % np.uint64(UNI_BUCKETS)).astype(np.int64)].astype(np.float64)
        p = np.where(c1 > 0, BACKOFF * c1 / self.total, BACKOFF * P_UNK)

        if len(h) >= 2:
            same_row = rows[:-1] == rows[1:]
            g = combine_hashes(h[:-1], h[1:])
            c2 = self.bi[(g % np.uint64(BI_BUCKETS)).astype(np.int64)].astype(np.float64)
            prev, cur = c1[:-1], c1[1:]
            # cur > 0 guard: a bigram containing an unseen word cannot have
            # been counted — any c2 > 0 there is pure table collision, and
            # without the guard a collision can REWARD corruption
            # (property-tested in test_scoring_properties)
            p_bi = np.where(
                same_row & (c2 > 0) & (prev > 0) & (cur > 0),
                c2 / np.maximum(prev, 1),
                0.0,
            )
            p[1:] = np.maximum(p[1:], p_bi)

        logs = np.log(np.maximum(p, 1e-300))
        sums = np.bincount(rows, weights=logs, minlength=n_rows)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.exp(-sums / np.maximum(n_tok, 1))
            rep = 1.0 - sorted_distinct_per_row(h, n_tok)[1] / n_tok
        out[n_tok == 0] = np.inf
        rep[n_tok == 0] = 0.0
        if return_stream:
            return out, n_tok, rep, (b, tok)
        return out, n_tok, rep
