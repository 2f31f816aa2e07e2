"""Text-analysis operators for training-data curation — all native
Column expressions (SQL-expressible, oracle-checkable).

- stopword-ratio language heuristic (the cheap, UDF-free langid for when
  the NB scorer's Python stage is not worth paying)
- quality scoring: length / punctuation / stopword / digit ratios
- token counting: whitespace + a BPE-ish subword estimate
- document fingerprinting: whole-doc xxhash64 + shingle minhash front
  (rolling-hash per-char variant lives in functions.hashing for UDF use)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_count

#: tiny per-language stopword anchors (public common words)
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "se", "por", "un"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "ist"),
    "fr": ("le", "de", "un", "et", "la", "les", "des", "en", "du", "est"),
    "zh": ("de", "shi", "bu", "wo", "ni", "le", "zai", "you", "ge", "men"),
}


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``words`` (native regex count)."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), F.lit(0)))


def stopword_ratio(col: Column, words: tuple[str, ...]) -> Column:
    return stopword_hits(col, words).cast("double") / F.greatest(
        token_count(col), F.lit(1)
    ).cast("double")


def langid_heuristic(col: Column, langs: dict[str, tuple[str, ...]] | None = None) -> Column:
    """argmax-stopword-hits language guess ('und' when no hits).

    Ties break by language name (deterministic). One pass of native
    regexes — no shuffle, no Python."""
    langs = langs or STOPWORDS
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(langs):  # later wins only on strict >  ⇒ first-name wins ties
        h = stopword_hits(col, langs[lang])
        take = h > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, h).otherwise(best_hits)
    return best_lang


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def digit_ratio(col: Column) -> Column:
    n = F.length(col)
    d = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(d.cast("double") / n.cast("double"))


def mean_word_len(col: Column) -> Column:
    n_tok = F.greatest(token_count(col), F.lit(1))
    n_alpha = F.length(F.regexp_replace(col, r"\s", ""))
    return n_alpha.cast("double") / n_tok.cast("double")


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite [0,1] quality score: rewards stopword presence and sane
    word lengths, penalizes punctuation/digit noise. A Gopher-rules-style
    heuristic (Rae et al. 2021, public) expressed as one native column."""
    sw = F.least(stopword_ratio(col, STOPWORDS[lang]) * 3.0, F.lit(1.0))
    wl = mean_word_len(col)
    wl_ok = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    noise = F.lit(1.0) - F.least(
        punct_ratio(col) * 2.0 + digit_ratio(col) * 2.0, F.lit(1.0)
    )
    return F.round((sw * 0.4 + wl_ok * 0.3 + noise * 0.3), 6)


def bpe_ish_token_count(col: Column) -> Column:
    """Subword-count estimate: GPT-2-style pretokenizer regex (contractions,
    letter runs, digit runs, punct runs) — counts pretokens, the stable
    upper-bound proxy for BPE token counts without a merges table."""
    pat = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
    return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))


def doc_fingerprint(col: Column) -> Column:
    """64-bit whole-document fingerprint over normalized whitespace."""
    return F.xxhash64(F.regexp_replace(F.trim(col), r"\s+", " "))


def select_to_budget(
    df,
    group_col: str,
    weight_col: str,
    budget: int,
    order_cols: list | None = None,
):
    """Budgeted selection: per ``group_col``, walk rows in quality order
    and keep them while the running ``weight_col`` total stays within
    ``budget`` — the "best documents until N tokens per domain" step of
    corpus mixing (the curation counterpart of sampling by rate: rates
    give proportions, budgets give absolute token targets).

    One keyed window (shuffle on the group), no driver loop, no second
    pass: the cumulative sum frame is rows-unbounded-preceding, so the
    decision is a single streaming pass per group. ``order_cols``
    defaults to weight DESC with the weight column itself as the
    quality proxy; pass explicit columns (e.g. a quality score DESC,
    then a unique key) — the LAST order column must be unique per group
    or the selection is not deterministic."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    order = order_cols if order_cols is not None else [F.col(weight_col).desc()]
    w = (
        W.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_cum", F.sum(weight_col).over(w))
        .filter(F.col("_cum") <= budget)
        .drop("_cum")
    )


def sample_to_mixture(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights: dict[str, float],
    budget_rows: int,
    seed: int = 42,
    bucket: Column | None = None,
) -> DataFrame:
    """Deterministic stratified sampling to a target domain mixture: keep
    approximately ``budget_rows`` rows distributed across groups in
    proportion to ``weights`` (normalized; groups absent from the dict
    are dropped). The corpus-mixing counterpart of select_to_budget —
    rates give PROPORTIONS where budgets give absolute per-group totals.

    Per-group keep rates come from one tiny groupBy-count (G rows to the
    driver, G = #domains); a group whose target exceeds its population
    caps at rate 1.0 (undersupplied domains keep everything — the
    standard behavior; re-normalize upstream if strictness matters).
    Row selection is HASH-based, not Bernoulli: keep iff
    pmod(xxhash64(id, seed), 1e6) < rate·1e6 — deterministic across
    runs/retries (a re-executed task keeps exactly the same rows, so
    speculative execution and stage retries cannot change the output,
    which df.sample cannot promise), seed-switchable, and embarrassingly
    parallel (no shuffle beyond the count's partial agg).

    ``bucket`` overrides the selection hash with a caller-supplied
    Column of uniform ints in [0, 1e6) — the driver check passes a
    Knuth multiplicative hash because the oracle engine lacks xxhash64
    (same pattern as split_hash_mod); production keeps the default."""
    norm = sum(weights.values())
    if norm <= 0:
        raise ValueError("weights must sum to a positive value")
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[group_col] in weights
    }
    rates = {
        g: min(1.0, (budget_rows * weights[g] / norm) / counts[g])
        for g in counts
        if counts[g] > 0
    }
    rate_col = F.create_map(
        *[x for g, r in rates.items() for x in (F.lit(g), F.lit(r))]
    )[F.col(group_col)]
    if bucket is None:
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
    return df.filter(bucket < (rate_col * 1_000_000.0))
