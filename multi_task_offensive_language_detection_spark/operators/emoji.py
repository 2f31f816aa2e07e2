"""Emoji → word normalization (SURVEY.md F4; [R] ref:data.py used
emoji.demojize). The ``emoji`` package is absent offline, so a PINNED
codepoint→name table (the common-emoji subset that matters for the
corpus) is broadcast and applied via a vectorized pandas UDF
(str.translate over a codepoint map — one pass, no per-row regex)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: pinned table (CLDR short names, underscored like emoji.demojize)
EMOJI_NAMES = {
    "\U0001F600": "grinning_face",
    "\U0001F602": "face_with_tears_of_joy",
    "\U0001F609": "winking_face",
    "\U0001F60A": "smiling_face_with_smiling_eyes",
    "\U0001F60D": "smiling_face_with_heart_eyes",
    "\U0001F612": "unamused_face",
    "\U0001F614": "pensive_face",
    "\U0001F618": "face_blowing_a_kiss",
    "\U0001F621": "enraged_face",
    "\U0001F622": "crying_face",
    "\U0001F62D": "loudly_crying_face",
    "\U0001F629": "weary_face",
    "\U0001F631": "face_screaming_in_fear",
    "\U0001F644": "face_with_rolling_eyes",
    "\U0001F648": "see_no_evil_monkey",
    "\U0001F44D": "thumbs_up",
    "\U0001F44E": "thumbs_down",
    "\U0001F44F": "clapping_hands",
    "\U0001F4AF": "hundred_points",
    "\U0001F525": "fire",
    "\U0001F389": "party_popper",
    "\U0001F494": "broken_heart",
    "❤": "red_heart",
    "✨": "sparkles",
    "\U0001F914": "thinking_face",
    "\U0001F921": "clown_face",
    "\U0001F4A9": "pile_of_poo",
    "\U0001F595": "middle_finger",
    "\U0001F620": "angry_face",
    "\U0001F92C": "face_with_symbols_on_mouth",
}

#: translate map: codepoint ordinal → ':name:' (demojize convention)
_TRANSLATE = {ord(k): f":{v}:" for k, v in EMOJI_NAMES.items()}


def demojize_py(s: str) -> str:
    return s.translate(_TRANSLATE)


@F.pandas_udf(T.StringType())
def demojize_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in it:
        yield s.fillna("").map(demojize_py)
