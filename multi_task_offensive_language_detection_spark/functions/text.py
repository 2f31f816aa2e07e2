"""Text normalization + heuristic-score expressions (SURVEY.md §2.8 F1-F10).

Everything here is a pure ``Column`` expression — JVM-side, codegen'd,
Catalyst-collapsible (CollapseProject fuses the regexp_replace chain into
one projection). It covers the reference's pandas preprocessing steps
([R] ref:data.py) that the filter and the driver keys use: whitespace
collapse (F1), URL→'URL' (F2), tokenizing and truncation (F6-F7) and the
caps/repetition scores (F8-F10). @mention→'@USER' is a pass of the scrub
chain (functions/scrub.py); the reference's cap of repeated @USER runs
at 3 (F3) is not implemented: no filter step or driver key needs it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

URL_RE = r"(https?://\S+|www\.\S+)"


def mask_urls(col: Column) -> Column:
    """F2 — replace URLs with the literal token ``URL``."""
    return F.regexp_replace(col, URL_RE, "URL")


def normalize_ws(col: Column) -> Column:
    """F1 — collapse whitespace and trim. The collapse rebuild is guarded:
    already-single-spaced text (the overwhelming majority) skips it."""
    return F.trim(
        F.when(
            col.rlike(r"\s\s|[\t\n\r]"), F.regexp_replace(col, r"\s+", " ")
        ).otherwise(col)
    )


def tokens(col: Column) -> Column:
    """F6 — whitespace tokens of an already-normalized string (array<string>)."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    """Number of whitespace tokens; 0 for empty/blank strings."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def truncate_tokens(col: Column, max_len: int) -> Column:
    """F7 — keep the first ``max_len`` whitespace tokens."""
    return F.array_join(F.slice(F.split(col, " "), 1, max_len), " ")


_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = _UPPER.lower()


def caps_ratio(col: Column) -> Column:
    """F8 — uppercase letters / all letters of the RAW text (0.0 if none).

    Counted with ONE ``translate`` rebuild (total letters) plus a
    ``regexp_count`` for the uppercase chars only: on normal-register text
    uppercase hits are few, so the per-match cost of regexp_count stays
    negligible while the second full-string rebuild of the old
    two-translate formulation disappears — at 8+ cores the scoring stage
    is memory-bandwidth-bound and string copies are the dominant native
    cost. (A pure regexp_count version is WORSE: [a-z] fires a
    Matcher.find() per letter.)"""
    upper = F.regexp_count(col, F.lit("[A-Z]"))
    letters = F.length(col) - F.length(F.translate(col, _UPPER + _LOWER, ""))
    return F.when(letters == 0, F.lit(0.0)).otherwise(
        upper.cast("double") / letters.cast("double")
    )


def has_char_run(col: Column, min_run: int) -> Column:
    """F9 — true when any character repeats ``min_run``+ times consecutively.

    Uses a Java-regex backreference (fine in Spark; NOT RE2-portable, which
    is why the driver check for this op is rows-only — SURVEY.md F9).
    """
    return col.rlike(r"(.)\1{%d,}" % (min_run - 1))


def rep_char_ratio(col: Column) -> Column:
    """F9 companion score: fraction of chars removed by squeezing runs ≥3.

    ``1 - len(squeezed)/len(raw)`` where squeezed collapses any 3+ run to 1
    char. 0.0 for clean text, → 1.0 for e.g. 'aaaaaaaa'. The squeeze
    rebuild only runs on rows that HAVE a 3-run (rlike guard — search,
    no string copy).
    """
    squeezed = F.length(F.regexp_replace(col, r"(.)\1{2,}", "$1"))
    n = F.length(col)
    return F.when(~col.rlike(r"(.)\1\1"), F.lit(0.0)).otherwise(
        F.when(n == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - squeezed.cast("double") / n.cast("double")
        )
    )


def rep_tok_ratio(col: Column) -> Column:
    """F10 — token-repeat ratio ``1 - distinct/total`` over whitespace tokens."""
    toks = F.split(F.trim(col), r"\s+")
    total = F.size(toks)
    return F.when(F.length(F.trim(col)) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double") / total.cast("double")
    )


def word_flag(col: Column, words: tuple[str, ...]) -> Column:
    """True when any of ``words`` appears as a whole word in ``col``.

    Compiled to a single JVM regex — the Spark-native form of the
    reference's ``token in lexicon`` membership test. ``col`` should
    already be lowercased.
    """
    pat = r"\b(" + "|".join(words) + r")\b"
    return col.rlike(pat)
