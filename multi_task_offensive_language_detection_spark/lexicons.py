"""Decision lexicons + gate thresholds — the engine's broadcastable "weights".

These play the role of the reference's fine-tuned BERT head (SURVEY.md §0.3,
[R] ref:models.py): the hierarchical OLID A/B/C decision (offensive? →
targeted? → individual/group/other) is made by lexicon + rule ensemble
instead of a neural head, per the north_rule's "heuristic rules" mandate.

Kept in one module so they ship as a single broadcast / --py-files artifact
and so tests can pin them. The fixture generators in tests/fixtures/ must
NOT import this module (anti-tautology rule, SURVEY.md §5.2.1).
"""

from __future__ import annotations

# --- Subtask A: offensive-language lexicon (mild-insult register; the
# engine flags a transcript OFF when any lexicon token appears).
PROFANITY = (
    "damn",
    "dammit",
    "hell",
    "crap",
    "crappy",
    "idiot",
    "idiots",
    "idiotic",
    "stupid",
    "moron",
    "morons",
    "moronic",
    "jerk",
    "jerks",
    "loser",
    "losers",
    "trash",
    "garbage",
    "scum",
    "scumbag",
    "filth",
    "filthy",
    "fool",
    "fools",
    "foolish",
    "dumb",
    "dumbest",
    "pathetic",
    "worthless",
    "disgusting",
    "awful",
    "terrible",
    "horrible",
    "clown",
    "clowns",
    "sucker",
    "sucks",
    "suck",
    "lame",
    "nasty",
    "vile",
    "wretched",
    "imbecile",
    "imbeciles",
    "buffoon",
    "buffoons",
    "nitwit",
    "dimwit",
    "bonehead",
    "numbskull",
)

# --- Subtask B/C: targeting signals.
#: Second-person targeting → TIN + IND (an individual is addressed).
SECOND_PERSON = ("you", "your", "yours", "yourself", "u", "ur")

#: Group nouns → TIN + GRP.
GROUP_NOUNS = (
    "people",
    "folks",
    "fans",
    "supporters",
    "voters",
    "liberals",
    "conservatives",
    "politicians",
    "immigrants",
    "foreigners",
    "drivers",
    "players",
    "tourists",
    "teenagers",
    "boomers",
    "millennials",
    "men",
    "women",
    "guys",
    "neighbors",
    "customers",
    "employees",
    "managers",
    "celebrities",
    "journalists",
    "lawyers",
    "bankers",
    "landlords",
    "crowd",
    "mob",
    "everyone",
)

#: Non-person entity nouns → TIN + OTH (organisation / work / concept).
ENTITY_NOUNS = (
    "company",
    "corporation",
    "government",
    "administration",
    "agency",
    "organization",
    "committee",
    "policy",
    "law",
    "system",
    "movie",
    "film",
    "show",
    "song",
    "album",
    "book",
    "game",
    "app",
    "website",
    "platform",
    "brand",
    "product",
    "service",
    "airline",
    "network",
    "channel",
    "league",
    "industry",
    "media",
    "press",
    "movement",
    "party",
    "country",
    "city",
    "economy",
)

# --- Gate thresholds (pinned; calibrated on the engine's own synthetic
# corpora in artifacts_build.py — NOT on test fixtures).
THRESHOLDS = {
    "langid_min_conf": 0.0,  # gate on argmax language only (see langid.py)
    # Stupid-backoff word perplexity ceiling. Margin by construction:
    # known-vocab text backs off to ≥ λ·c₁/N ≈ 2e-4 per token (ppl ≤ ~5e3);
    # pseudo-word gibberish hits the P_UNK floor (ppl ≥ ~1e6).
    "ppl_max": 20000.0,
    "len_min_chars": 8,
    "len_max_chars": 20000,
    "dur_ms_min": 150,
    "dur_ms_max": 60000,
    "caps_ratio_max": 0.7,  # share of letters that are uppercase
    "rep_char_run_max": 5,  # longest same-char run allowed
    "rep_tok_ratio_max": 0.6,  # 1 - distinct/total tokens
    "toxicity_max_hits": 3,  # >= this many profane tokens → drop
    "toxicity_max_density": 0.5,  # or profane share of tokens >= this
}
