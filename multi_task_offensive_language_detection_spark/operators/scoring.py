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
stage's memory traffic. The UDF already flattens and hashes the token
stream for the LM, so lexicon membership is a sorted-array lookup on
hashes it has anyway, plus one C-level ``\\w+`` findall. Semantics are
EXACT: for an all-word-char lexeme, ``\\b(w)\\b`` matches iff ``w``
occurs as a maximal word-char run, which is precisely membership of the
``re.ASCII``-``\\w+`` runs (ASCII flag = Java regex default classes).

Why NORMALIZATION and the CHAR STATS moved here too (round 3): at 8+
cores the native stage is memory-bandwidth-bound, and each JVM pass —
lower_guarded + ws-collapse (2 string rebuilds), the caps translate
rebuild, and the two char-run regex scans — re-streams every row's
bytes through the JVM heap. The UDF already receives the text over
Arrow, so deriving the normalized form (C-level lower/split/join,
equivalence with the old JVM expressions argued at _normalize_batch)
and the char stats (one utf-32 decode shared by caps + run-length
counting, char_stats_batch) costs one pass over bytes Python holds
anyway and removes ~40% of the JVM stage's traffic. Measured at 8
pinned cores on 2.4M clips: native pre-UDF stages 8.2s → 3.1s.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

_WORD_RUN = re.compile(r"\w+", re.ASCII)

#: Java regex \s = [ \t\n\x0B\f\r] — NOT Python's unicode \s. Pinned so
#: the Python-side normalization is byte-equivalent to the former JVM
#: expression trim(regexp_replace(lower(x), '\\s+', ' ')).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_ASCII_UPPER = re.compile(r"[A-Z]")
#: normalize_ws's collapse guard, verbatim: Java \s\s | [\t\n\r]. A lone
#: \x0b/\x0c does NOT fire it (and therefore survives normalization) —
#: parity matters more than prettiness here.
_WS_GUARD = re.compile(r"[ \t\n\x0b\f\r][ \t\n\x0b\f\r]|[\t\n\r]")


def _norm_one(t: str) -> str:
    # guarded-lower parity: the JVM guard fires on ASCII [A-Z] only, so a
    # row whose only uppercase is non-ASCII (e.g. 'ÄÖÜ') is NOT lowered
    if _ASCII_UPPER.search(t):
        t = t.lower()
    if _WS_GUARD.search(t):
        t = _JAVA_WS.sub(" ", t)
    return t.strip(" ")


def _normalize_batch(texts: pd.Series) -> pd.Series:
    """lower_guarded + Java-\\s ws-collapse + space-trim, C-level per
    batch — byte-equivalent to the former JVM chain
    ``normalize_ws(lower_guarded(x))`` (pinned by
    tests/test_scoring_properties.py, which keeps ``lower_guarded`` as the
    JVM reference): the guard replicates lower_guarded's ASCII-[A-Z]
    trigger; ``_JAVA_WS.sub(' ')`` collapses
    exactly the runs Java's ``\\s+`` matched (same 5-char class); after
    the collapse every edge run is a single ' ', which ``strip(' ')``
    removes just like Spark's space-only ``trim``. Unicode whitespace
    (e.g. NBSP) stays inside tokens on both paths.

    NULL semantics — INTENDED divergence from the JVM twins: a NULL text
    is coerced to '' here (``fillna``), so a NULL transcript scores
    exactly like an empty one and is dropped by the length gate with a
    concrete reason, instead of propagating NULL through every score
    column (a quality filter must DECIDE on every row; NULL-in/NULL-out
    would leak undecided rows into keep/drop). Pinned by
    tests/test_scoring_properties.py::test_null_text_scores_as_empty."""
    return texts.fillna("").map(lambda t: _norm_one(str(t)))


#: chars Java's '.' does NOT match outside DOTALL — runs of these are
#: invisible to the old (.)\1{k,} JVM scans and must stay invisible here
_LINE_TERM = np.array([0x0A, 0x0D, 0x85, 0x2028, 0x2029], dtype=np.uint32)


def char_stats_batch(
    texts: list[str], min_run: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(caps_ratio, rep_char_run, rep_char_ratio) per row over the RAW
    text — one utf-32 decode of the whole batch, vectorized counts.

    Replicates the former JVM expressions exactly:
    - caps_ratio: count('[A-Z]') / ASCII-letter count, 0.0 when no
      letters (same double casts/ops as the Column expression);
    - rep_char_run: any same-char run ≥ min_run whose char '.' matches
      (i.e. not a line terminator) — the (.)\\1{k,} backref semantic;
    - rep_char_ratio: 1 − len(squeeze(runs≥3 → 1 char))/len, 0.0 when
      no qualifying 3-run or empty text.

    NUL bytes are mapped to ' ' before the blob join (the repo-wide
    separator convention, functions/hashing.py). Known divergence from
    the old JVM expressions, documented rather than chased: for
    supplementary-plane chars (emoji) Python len() counts code points
    while JVM length() counts UTF-16 units, so rep_char_ratio's
    denominator differs on astral-bearing rows (caps_ratio is immune —
    the U+ offsets cancel). Transcripts and fixtures are BMP-only."""
    n = len(texts)
    if n == 0:
        e = np.empty(0)
        return e, e.astype(bool), e
    tl = [str(t) for t in texts]
    lens = np.fromiter((len(t) for t in tl), dtype=np.int64, count=n)
    blob = "\x00".join(t.replace("\x00", " ") for t in tl)
    codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
    if len(codes) == 0:  # batch of empty strings only
        z = np.zeros(n, dtype=np.float64)
        return z, np.zeros(n, dtype=bool), z.copy()
    sep = codes == 0
    row = np.cumsum(sep) - sep  # row id per char; separators map to prior row
    # caps: ASCII uppercase / ASCII letters (exactly [A-Z] + [a-z])
    upper = (codes >= 65) & (codes <= 90)
    lower = (codes >= 97) & (codes <= 122)
    upper_cnt = np.bincount(row[upper], minlength=n).astype(np.float64)
    letter_cnt = upper_cnt + np.bincount(row[lower], minlength=n)
    with np.errstate(divide="ignore", invalid="ignore"):
        caps = np.where(letter_cnt > 0, upper_cnt / letter_cnt, 0.0)
    # run-length encode the whole blob (separators break runs by value)
    starts = np.concatenate(([True], codes[1:] != codes[:-1]))
    run_lens = np.diff(np.concatenate((np.nonzero(starts)[0], [len(codes)])))
    run_chars = codes[starts]
    run_rows = row[starts]
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


def _hash_lexicon(words: tuple[str, ...]) -> np.ndarray:
    from ..functions.hashing import token_hash_batch

    return np.sort(token_hash_batch(list(words)))


class LexiconSignals:
    """Vectorized whole-word lexicon membership over an Arrow batch."""

    def __init__(self):
        self.prof = _hash_lexicon(PROFANITY)
        self.second = _hash_lexicon(SECOND_PERSON)
        self.group = _hash_lexicon(GROUP_NOUNS)
        self.entity = _hash_lexicon(ENTITY_NOUNS)

    def score_stream(self, n: int, flat: list, h: np.ndarray, rows: np.ndarray, pure: np.ndarray):
        """(prof_hits, sig) reusing an existing WHITESPACE-token stream.

        Maximal \\w-runs never span whitespace, so: a pure-\\w whitespace
        token IS a maximal run (hash membership applies directly); only
        tokens carrying punctuation (rare in normalized transcripts) are
        re-split into runs and re-hashed. Result is exactly equal to
        scoring the \\w+ runs of the joined text (the stand-alone
        reference in tests/lexicon_reference.py)."""
        from ..functions.hashing import token_hash_batch

        if len(h) == 0:
            return np.zeros(n, dtype=np.int32), np.zeros(n, dtype=np.int32)
        if pure.all():
            return self._score_hashes(n, h, rows)
        prof_hits, sig = self._score_hashes(n, h[pure], rows[pure])
        impure_idx = np.nonzero(~pure)[0]
        sub_runs = [_WORD_RUN.findall(flat[i]) for i in impure_idx]
        sub_counts = np.fromiter((len(r) for r in sub_runs), dtype=np.int64, count=len(sub_runs))
        sub_flat = [w for r in sub_runs for w in r]
        if sub_flat:
            sub_rows = np.repeat(rows[impure_idx], sub_counts)
            sub_h = token_hash_batch(sub_flat)
            p2, s2 = self._score_hashes(n, sub_h, sub_rows)
            prof_hits += p2
            sig |= s2
        return prof_hits, sig

    def _score_hashes(self, n: int, h: np.ndarray, rows: np.ndarray):
        prof_hits = np.zeros(n, dtype=np.int32)
        sig = np.zeros(n, dtype=np.int32)
        if len(h) == 0:
            return prof_hits, sig
        prof_hits += np.bincount(rows[_member(h, self.prof)], minlength=n).astype(
            np.int32
        )
        for hashes, bit in (
            (self.second, SIG_SECOND_PERSON),
            (self.group, SIG_GROUP),
            (self.entity, SIG_ENTITY),
        ):
            hit_rows = rows[_member(h, hashes)]
            if len(hit_rows):
                mask = np.zeros(n, dtype=bool)
                mask[hit_rows] = True
                sig[mask] |= bit
        return prof_hits, sig


def _member(h: np.ndarray, sorted_hashes: np.ndarray) -> np.ndarray:
    """Boolean membership of h in a small sorted hash array (searchsorted —
    cheaper than np.isin's merge for a ~50-entry lexicon)."""
    idx = np.searchsorted(sorted_hashes, h)
    idx[idx == len(sorted_hashes)] = 0
    return sorted_hashes[idx] == h


@functools.cache
def _load_models(langid_path: str, lm_path: str) -> tuple[LangidModel, NgramLM, LexiconSignals]:
    """The fused UDF's models — loaded once per Python worker and artifact
    pair, then reused by every task that worker runs."""
    return LangidModel.load(langid_path), NgramLM.load(lm_path), LexiconSignals()


def combined_scores_udf(langid_path: str, lm_path: str, min_run: int = 5):
    """(raw_text, pii_scrubbed_text) → struct<lang, conf, ppl, n_tokens,
    rep_tok_ratio, prof_hits, sig, caps_ratio, rep_char_run,
    rep_char_ratio> — two input columns, one output struct, one Arrow
    boundary.

    The normalized scoring text is derived HERE from the case-preserved
    PII-scrubbed column (_normalize_batch — byte-equivalent to the old
    JVM lower+collapse+trim chain), so the JVM never rebuilds the
    string; the char stats come from the RAW column (caps/runs are
    case- and spacing-sensitive, and the scrub placeholders must not
    influence them). The LM scores the same normalized text langid sees
    (profanity words and lowercased placeholders are in the LM
    vocabulary, so no separate masked column is needed)."""

    @F.pandas_udf(COMBINED_RESULT)
    def _score(
        it: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        langid, lm, lex = _load_models(langid_path, lm_path)
        for raw, pii in it:
            norm_text = _normalize_batch(pii)
            out = langid.score_batch(norm_text)
            ppl, n_tok, rep, stream = lm.ppl_stats_batch(
                norm_text, return_stream=True
            )
            out["ppl"] = ppl
            out["n_tokens"] = n_tok.astype(np.int32)
            out["rep_tok_ratio"] = rep
            # lexicon signals ride the SAME tokenization+hash pass the LM
            # just did (norm_text is already lowercased)
            prof_hits, sig = lex.score_stream(len(norm_text), *stream)
            # masked mentions surface as '@user' in the normalized text —
            # a C-level substring scan, formerly a JVM contains() pass
            at_user = np.fromiter(
                ("@user" in t for t in norm_text), dtype=bool, count=len(norm_text)
            )
            sig[at_user] |= SIG_AT_USER
            out["prof_hits"] = prof_hits
            out["sig"] = sig
            caps, has_big, rep_char = char_stats_batch(list(raw.fillna("")), min_run)
            out["caps_ratio"] = caps
            out["rep_char_run"] = has_big
            out["rep_char_ratio"] = rep_char
            yield out

    return _score
