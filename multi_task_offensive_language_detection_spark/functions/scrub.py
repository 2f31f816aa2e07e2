"""PII + profanity scrubbing (SURVEY.md §2.8 F11-F12).

An ordered chain of native ``regexp_replace`` expressions — one fused
JVM projection, no Python in the hot path. Pattern order matters and is
pinned (EMAIL before MENTION so addresses don't half-match the @handle
pattern; IP before PHONE so dotted quads never parse as numbers).

Placeholders follow FIXTURES.md §3: <EMAIL> <PHONE> <SSN> <IP> @USER URL
<PROFANITY>. The scrub is idempotent (placeholders never re-match any
pattern) — property-tested in tests/test_scrub.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..lexicons import PROFANITY

EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
URL_RE = r"(?i)(https?://\S+|www\.\S+)"
IP_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
# +1 555-123-4567 | (555) 123-4567 | 555.123.4567 | 5551234567 (exactly
# 10 contiguous digits, \b-guarded so longer digit runs don't half-match)
PHONE_RE = r"(\+?1[-. ])?(\(\d{3}\)[ ]?|\d{3}[-. ])\d{3}[-. ]\d{4}\b|\b\d{10}\b"
MENTION_RE = r"@\w+"


def _profanity_re(words: tuple[str, ...] = PROFANITY) -> str:
    return r"(?i)\b(" + "|".join(words) + r")\b"


#: (pattern, replacement) in pinned order — the versioned pattern table.
PII_CHAIN: tuple[tuple[str, str], ...] = (
    (EMAIL_RE, "<EMAIL>"),
    (URL_RE, "URL"),
    (IP_RE, "<IP>"),
    (SSN_RE, "<SSN>"),
    (PHONE_RE, "<PHONE>"),
    (MENTION_RE, "@USER"),
)


#: cheap pre-guards per pattern: Spark's RegExpReplace copies the string
#: even when nothing matches, so on clean-majority corpora the guard scan
#: (contains / one small rlike) avoids most of the rebuild traffic — the
#: JVM regex battery is the pipeline's bandwidth bottleneck at scale.
_GUARDS = {
    "<EMAIL>": lambda c: c.contains("@"),
    "URL": lambda c: c.rlike(r"(?i)(http|www\.)"),
    "<IP>": lambda c: c.rlike(r"\d\.\d"),
    "<SSN>": lambda c: c.rlike(r"\d-\d"),
    "<PHONE>": lambda c: c.rlike(r"\d{3}"),
    "@USER": lambda c: c.contains("@"),
}


#: a superset of every guard above: '@' (EMAIL, @USER), an ASCII digit
#: (IP, SSN, PHONE; Java's \d is ASCII) or http/www. (URL)
_ANY_PII = r"(?i)[@0-9]|http|www\."


def scrub_pii(col: Column) -> Column:
    """F11 — apply the PII chain in order; pure Column expression.

    Each pass is guarded by a cheap containment scan — identical output,
    no string rebuild for the (majority) rows the pattern can't match.

    Guards scan the ORIGINAL column, not the evolving expression. That
    is a superset trigger for every pass (no replacement ever introduces
    an @, a digit, or http/www that the original lacked — '<EMAIL>',
    'URL', '<IP>', '<SSN>', '<PHONE>' are letter-only tokens and '@USER'
    is the final pass), so the output is identical — and each chain step
    references the previous expression twice instead of three times,
    keeping the generated code well under the codegen huge-method cliff
    (a deeper variant measurably fell off it: whole job +45%).

    One outer guard (``_ANY_PII``) skips the whole chain for the rows
    that hold none of ``@``, an ASCII digit, ``http`` or ``www.``. Every
    inner guard implies it, so the output is the same; on the bench
    clips it passes about 12% of rows, and the scrub alone over 100k
    cached clips (noop write, 4 cores) went 0.26 → 0.24 s."""
    out = col
    for pat, repl in PII_CHAIN:
        guard = _GUARDS[repl]
        out = F.when(guard(col), F.regexp_replace(out, pat, repl)).otherwise(out)
    return F.when(col.rlike(_ANY_PII), out).otherwise(col)


def scrub_profanity(col: Column, words: tuple[str, ...] = PROFANITY) -> Column:
    """F12 — whole-word profanity → <PROFANITY> (case-insensitive)."""
    return F.regexp_replace(col, _profanity_re(words), "<PROFANITY>")


def scrub_edit_count(scrubbed: Column) -> Column:
    """n_scrub_edits — number of placeholder tokens in the scrubbed text.

    Valid because raw transcripts never contain placeholders (asserted by
    the fixture generator) and each replacement emits exactly one token.
    """
    pat = r"(<EMAIL>|<PHONE>|<SSN>|<IP>|<PROFANITY>|@USER|\bURL\b)"
    return F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
