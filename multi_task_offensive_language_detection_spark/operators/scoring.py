"""Combined Python scoring stage: normalization + langid + perplexity +
token metrics + char stats + lexicon signals in ONE pandas UDF.

Iterator-type pandas UDFs cannot be fused by Spark's ExtractPythonUDFs
(one UDF per ArrowEvalPython node), so scoring as separate UDFs would
cost one JVM↔Python Arrow round-trip each. This module folds everything
that needs the text's bytes into a single iterator UDF returning
struct<lang, conf, ppl, n_tokens, rep_tok_ratio, prof_hits, sig,
caps_ratio, rep_char_run, rep_char_ratio> — one Arrow boundary, all
artifacts loaded once per worker (verified in tests/test_plan_shape.py:
the pipeline plan has exactly ONE ArrowEvalPython node).

Why the lexicon signals live here and not in JVM regexes: each
``\\b(w1|...|wN)\\b`` alternation is a full NFA scan over every row —
four of them (profanity + 3 taxonomy signals) dominated the native
stage's memory traffic. The UDF already splits and hashes the token
stream for the LM, so lexicon membership is a table lookup on hashes it
has anyway, plus the ``\\w`` runs of the few punctuated tokens. Semantics are
EXACT: for an all-word-char lexeme, ``\\b(w)\\b`` matches iff ``w``
occurs as a maximal word-char run, which is precisely membership of the
``re.ASCII``-``\\w+`` runs (ASCII flag = Java regex default classes).

Why NORMALIZATION and the CHAR STATS moved here too (round 3): at 8+
cores the native stage is memory-bandwidth-bound, and each JVM pass —
lower_guarded + ws-collapse (2 string rebuilds), the caps translate
rebuild, and the two char-run regex scans — re-streams every row's
bytes through the JVM heap. The UDF already receives the text over
Arrow, so deriving the normalized form (equivalence with the old JVM
expressions argued at _normalize_batch) and the char stats (one utf-32
decode shared by caps + run counting, char_stats_batch) costs one pass
over bytes Python holds anyway and removes ~40% of the JVM stage's
traffic. Measured at 8 pinned cores on 2.4M clips: native pre-UDF
stages 8.2s → 3.1s.

Each column is decoded ONCE per batch into a ``CodeBatch`` (one utf-32
buffer with row offsets, functions/hashing.py) that every kernel reads;
no per-row or per-token Python runs on a plain batch. On 10k-row
batches of the bench clips the five kernels went from 20.3 to 5.8
µs/row on a 4-core box.
"""

from __future__ import annotations

import functools
import gc
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    CodeBatch,
    Tokens,
    segment_hashes,
    spans,
    token_hash_batch,
)
from ..lexicons import ENTITY_NOUNS, GROUP_NOUNS, PROFANITY, SECOND_PERSON
from .langid import LangidModel
from .perplexity import NgramLM

COMBINED_RESULT = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("conf", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("rep_tok_ratio", T.DoubleType()),
        T.StructField("prof_hits", T.IntegerType()),
        T.StructField("sig", T.IntegerType()),
        T.StructField("caps_ratio", T.DoubleType()),
        T.StructField("rep_char_run", T.BooleanType()),
        T.StructField("rep_char_ratio", T.DoubleType()),
    ]
)

#: sig bitmask (taxonomy targeting signals; AT_USER = masked-mention
#: substring present in the normalized text)
SIG_SECOND_PERSON = 1
SIG_GROUP = 2
SIG_ENTITY = 4
SIG_AT_USER = 8

#: Java regex \s = [ \t\n\x0B\f\r] — NOT Python's unicode \s. Pinned so
#: the Python-side normalization is byte-equivalent to the former JVM
#: expression trim(regexp_replace(lower(x), '\\s+', ' ')).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_ASCII_UPPER = re.compile(r"[A-Z]")
#: normalize_ws's collapse guard, verbatim: Java \s\s | [\t\n\r]. A lone
#: \x0b/\x0c does NOT fire it (and therefore survives normalization) —
#: parity matters more than prettiness here.
_WS_GUARD = re.compile(r"[ \t\n\x0b\f\r][ \t\n\x0b\f\r]|[\t\n\r]")
#: per code point below 33: 1 for a Java-\s char, 2 for one of [\t\n\r]
#: (which fire the collapse guard alone); the last slot stands for the rest
_JAVA_WS_CLASS = np.zeros(34, dtype=np.int8)
_JAVA_WS_CLASS[[0x0B, 0x0C, 0x20]] = 1
_JAVA_WS_CLASS[[0x09, 0x0A, 0x0D]] = 2


def _norm_one(t: str) -> str:
    if _WS_GUARD.search(t):
        t = _JAVA_WS.sub(" ", t)
    return t.strip(" ")


def _normalize_batch(texts: pd.Series) -> CodeBatch:
    """The former JVM chain ``normalize_ws(lower_guarded(x))``, lowered,
    as the batch's one CodeBatch (langid, the LM, the lexicons and
    ``@user`` read its buffer). ``_norm_one`` runs only on the rows a
    buffer scan flags: ``_JAVA_WS.sub(' ')`` collapses exactly the runs
    Java's ``\\s+`` matched, then ``strip(' ')`` is Spark's space-only
    ``trim``; Unicode whitespace (e.g. NBSP) stays. Every consumer
    lowers, so the ASCII-guarded lower shows only where langid cuts a
    non-ASCII row at MAX_CHARS before lowering (a multi-char lower, a
    final sigma); ``texts`` keeps it for those rows.

    NULL semantics — INTENDED divergence from the JVM twins: a NULL text
    is coerced to '' here (``fillna``), so a NULL transcript scores
    exactly like an empty one and is dropped by the length gate with a
    concrete reason, instead of propagating NULL through every score
    column (a quality filter must DECIDE on every row; NULL-in/NULL-out
    would leak undecided rows into keep/drop). Pinned by
    tests/test_scoring_properties.py::test_null_text_scores_as_empty."""
    tl = texts.fillna("").tolist()
    if not all(map(str.isascii, tl)):
        tl = [t if t.isascii() or not _ASCII_UPPER.search(t) else t.lower() for t in tl]
    b = CodeBatch(tl, lower=True)
    # the rows _norm_one would change: the collapse guard fires, or a ' '
    # sits at a row edge (lowering touches no whitespace)
    ws = _JAVA_WS_CLASS[np.minimum(b.codes, len(_JAVA_WS_CLASS) - 1)]
    hits = np.flatnonzero((ws[:-1] > 0) & (ws[1:] > 0))
    hits = np.concatenate((hits, np.flatnonzero(ws == 2)))
    edge = np.concatenate((b.starts, b.ends - 1))[np.tile(b.lens > 0, 2)]
    hits = np.concatenate((hits, edge[b.codes[edge] == 0x20]))
    if len(hits):
        for i in np.unique(np.searchsorted(b.starts, hits, side="right") - 1):
            tl[i] = _norm_one(tl[i])
        b = CodeBatch(tl, lower=True)
    return b


#: chars Java's '.' does NOT match outside DOTALL — runs of these are
#: invisible to the old (.)\1{k,} JVM scans and must stay invisible here
_LINE_TERM = np.array([0x0A, 0x0D, 0x85, 0x2028, 0x2029], dtype=np.uint32)
#: per code point below 'z' + 1: 2**32 + 1 for [A-Z], 1 for [a-z], so a
#: row sum holds (uppercase << 32) + letters; the last slot is the rest
_CASE_COUNT = np.zeros(124, dtype=np.int64)
_CASE_COUNT[ord("A") : ord("Z") + 1] = (1 << 32) + 1
_CASE_COUNT[ord("a") : ord("z") + 1] = 1


def char_stats_batch(
    texts: list[str], min_run: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(caps_ratio, rep_char_run, rep_char_ratio) per row over the RAW
    text — one utf-32 decode of the whole batch, vectorized counts.

    Replicates the former JVM expressions exactly:
    - caps_ratio: count('[A-Z]') / ASCII-letter count, 0.0 when no
      letters (same double casts/ops as the Column expression);
    - rep_char_run: any same-char run ≥ min_run (≥ 2) whose char '.'
      matches (i.e. not a line terminator) — the (.)\\1{k,} backref
      semantic;
    - rep_char_ratio: 1 − len(squeeze(runs≥3 → 1 char))/len, 0.0 when
      no qualifying 3-run or empty text.

    A NUL inside a text counts as ' ' (the repo-wide separator
    convention, functions/hashing.py). Known divergence from
    the old JVM expressions, documented rather than chased: for
    supplementary-plane chars (emoji) Python len() counts code points
    while JVM length() counts UTF-16 units, so rep_char_ratio's
    denominator differs on astral-bearing rows (caps_ratio is immune —
    the U+ offsets cancel). Transcripts and fixtures are BMP-only."""
    n = len(texts)
    if n == 0:
        e = np.empty(0)
        return e, e.astype(bool), e
    b = CodeBatch(texts)
    c, lens = b.codes, b.lens
    # caps: ASCII uppercase / ASCII letters (exactly [A-Z] + [a-z]), one
    # table gather and one per-row sum (every row segment ends in its 0)
    sums = np.add.reduceat(_CASE_COUNT[np.minimum(c, len(_CASE_COUNT) - 1)], b.starts)
    upper_cnt = (sums >> 32).astype(np.float64)
    letter_cnt = sums & 0xFFFFFFFF
    with np.errstate(divide="ignore", invalid="ignore"):
        caps = np.where(letter_cnt > 0, upper_cnt / letter_cnt, 0.0)
    if np.count_nonzero(c == 0) > n:  # a NUL inside a text counts as ' '
        c = np.where(c == 0, 32, c).astype(np.uint32)
        c[b.ends] = 0
    # a run of L >= 2 equal chars is L - 1 consecutive equal pairs
    run_start, n_pairs = spans(c[1:] == c[:-1])
    run_lens = n_pairs + 1
    run_chars = c[run_start]
    run_rows = np.searchsorted(b.ends, run_start)
    eligible = (run_chars != 0) & ~np.isin(run_chars, _LINE_TERM)
    big3 = eligible & (run_lens >= 3)
    removed = np.bincount(run_rows[big3], weights=(run_lens[big3] - 1), minlength=n)
    has_big = np.bincount(
        run_rows[eligible & (run_lens >= min_run)], minlength=n
    ) > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        squeezed = (lens - removed).astype(np.float64)
        rep = np.where(
            (removed > 0) & (lens > 0), 1.0 - squeezed / lens.astype(np.float64), 0.0
        )
    return caps, has_big, rep


#: a profanity hit's bit in the lexicon table, next to the SIG_* bits
_PROFANE = 16
#: ASCII \w per code point (Java-regex default classes; the row
#: separator 0 is not one); the last slot stands for everything above
_WORDCHAR = np.zeros(129, dtype=bool)
_WORDCHAR[[c for c in range(128) if chr(c).isalnum() or c == 0x5F]] = True


class LexiconSignals:
    """Vectorized whole-word lexicon membership over an Arrow batch: one
    sorted table of every lexicon's token hashes with a bitmask each,
    searched only for the tokens a 2**16-slot filter on the low hash
    bits lets through."""

    def __init__(self):
        lexicons = (
            (PROFANITY, _PROFANE),
            (SECOND_PERSON, SIG_SECOND_PERSON),
            (GROUP_NOUNS, SIG_GROUP),
            (ENTITY_NOUNS, SIG_ENTITY),
        )
        h = token_hash_batch([w for words, _ in lexicons for w in words])
        self.hashes, inv = np.unique(h, return_inverse=True)
        self.bits = np.zeros(len(self.hashes), dtype=np.int32)
        np.bitwise_or.at(self.bits, inv, np.repeat([b for _, b in lexicons], [len(w) for w, _ in lexicons]))
        self.maybe = np.zeros(1 << 16, dtype=bool)
        self.maybe[(self.hashes & np.uint64(0xFFFF)).astype(np.intp)] = True

    def score_stream(self, n: int, batch: CodeBatch, tok: Tokens):
        """(prof_hits, sig) of the maximal ASCII-\\w runs of a lowered
        batch — the ``\\b(word)\\b`` semantic (the stand-alone
        reference in tests/lexicon_reference.py) — reusing the LM's
        token hashes: a run that spans its whole whitespace token (no
        punctuation) has that token's hash, and only the runs inside
        punctuated tokens are hashed here. ``sig`` also carries
        SIG_AT_USER, the masked-mention substring ``@user``."""
        c = batch.codes
        starts, lens = spans(_WORDCHAR[np.minimum(c, len(_WORDCHAR) - 1)])
        t = np.searchsorted(tok.starts, starts, side="right") - 1
        whole = (tok.starts[t] == starts) & (tok.lens[t] == lens)
        h = tok.hashes[t]
        h[~whole] = segment_hashes(c, starts[~whole], lens[~whole])
        prof_hits, sig = self._score_hashes(n, h, tok.rows[t])
        # masked mentions surface as '@user' (row separators are 0, so a
        # match never spans rows)
        at = np.flatnonzero(c[:-4] == 0x40)
        for k, ch in enumerate("user", start=1):
            at = at[c[at + k] == ord(ch)]
        sig[np.searchsorted(batch.starts, at, side="right") - 1] |= SIG_AT_USER
        return prof_hits, sig

    def _score_hashes(self, n: int, h: np.ndarray, rows: np.ndarray):
        prof_hits = np.zeros(n, dtype=np.int32)
        sig = np.zeros(n, dtype=np.int32)
        cand = np.flatnonzero(self.maybe[(h & np.uint64(0xFFFF)).astype(np.intp)])
        idx = np.minimum(np.searchsorted(self.hashes, h[cand]), len(self.hashes) - 1)
        hit = self.hashes[idx] == h[cand]
        bits, r = self.bits[idx[hit]], rows[cand[hit]]
        prof_hits += np.bincount(r[(bits & _PROFANE) > 0], minlength=n).astype(np.int32)
        np.bitwise_or.at(sig, r, bits & ~_PROFANE)
        return prof_hits, sig


@functools.cache
def _load_models(langid_path: str, lm_path: str) -> tuple[LangidModel, NgramLM, LexiconSignals]:
    """The fused UDF's models — loaded once per Python worker and artifact
    pair, then reused by every task that worker runs. ``gc.freeze()``
    spares everything alive by then from the full ``gc.collect()`` the
    PySpark daemon runs after each task (25-40 ms a task without it)."""
    models = LangidModel.load(langid_path), NgramLM.load(lm_path), LexiconSignals()
    gc.freeze()
    return models


def combined_scores_udf(langid_path: str, lm_path: str, min_run: int = 5):
    """(raw_text, pii_scrubbed_text) → struct<lang, conf, ppl, n_tokens,
    rep_tok_ratio, prof_hits, sig, caps_ratio, rep_char_run,
    rep_char_ratio> — two input columns, one output struct, one Arrow
    boundary.

    The scoring text is derived HERE from the case-preserved
    PII-scrubbed column (_normalize_batch — the old JVM lower+collapse+
    trim chain, decoded once into the CodeBatch every text model reads),
    so the JVM never rebuilds the string; the char stats come from the
    RAW column (caps/runs are case- and spacing-sensitive, and the scrub
    placeholders must not influence them). The LM scores the same
    normalized text langid sees (profanity words and lowercased
    placeholders are in the LM vocabulary, so no separate masked column
    is needed)."""

    @F.pandas_udf(COMBINED_RESULT)
    def _score(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        langid, lm, lex = _load_models(langid_path, lm_path)
        for raw, pii in it:
            batch = _normalize_batch(pii)
            out = langid.score_batch(batch)
            ppl, n_tok, rep, stream = lm.ppl_stats_batch(batch, return_stream=True)
            out["ppl"] = ppl
            out["n_tokens"] = n_tok.astype(np.int32)
            out["rep_tok_ratio"] = rep
            out["prof_hits"], out["sig"] = lex.score_stream(len(batch), *stream)
            caps, has_big, rep_char = char_stats_batch(raw.fillna("").tolist(), min_run)
            out["caps_ratio"] = caps
            out["rep_char_run"] = has_big
            out["rep_char_ratio"] = rep_char
            yield out

    return _score
