"""Heuristic quality gates + keep/drop decision (SURVEY.md P6-P8, F8-F10).

All pure Column expressions over pre-computed score columns — one
WholeStageCodegen projection. The drop_reason is the FIRST failing gate in
the fixed priority order length → langid → repetition → caps → perplexity
→ toxicity. Length goes first: sub-8-char strings carry no usable langid
signal, so gating them on length keeps the decision deterministic and
cheap. This mirrors the reference's distant-supervision keep/drop
thresholding (SURVEY.md §3.3, P4), the semantic ancestor of the whole
filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..lexicons import THRESHOLDS


def drop_reason(
    *,
    langid_lang: Column,
    ppl: Column,
    n_chars: Column,
    rep_char_run: Column,  # boolean: has a run ≥ rep_char_run_max
    rep_tok_ratio: Column,
    caps_ratio: Column,
    profanity_hits: Column,
    n_tokens: Column,
    dur_ms: Column | None = None,
    th: dict | None = None,
) -> Column:
    """NULL ⇒ keep; else the first failing gate name."""
    t = th or THRESHOLDS
    length_bad = (n_chars < t["len_min_chars"]) | (n_chars > t["len_max_chars"])
    if dur_ms is not None:
        length_bad = length_bad | (dur_ms < t["dur_ms_min"]) | (dur_ms > t["dur_ms_max"])
    toxic = (profanity_hits >= t["toxicity_max_hits"]) | (
        profanity_hits.cast("double")
        >= t["toxicity_max_density"] * F.greatest(n_tokens, F.lit(1)).cast("double")
    )
    return (
        F.when(length_bad, F.lit("length"))
        .when(langid_lang != "en", F.lit("langid"))
        .when(rep_char_run | (rep_tok_ratio > t["rep_tok_ratio_max"]), F.lit("repetition"))
        .when(caps_ratio > t["caps_ratio_max"], F.lit("caps"))
        .when(ppl > t["ppl_max"], F.lit("perplexity"))
        .when(toxic, F.lit("toxicity"))
        .otherwise(F.lit(None).cast("string"))
    )


def keep_from_reason(reason: Column) -> Column:
    return reason.isNull()
