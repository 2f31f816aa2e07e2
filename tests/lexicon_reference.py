"""Reference kernel for the fused scoring UDF's lexicon signals
(operators/scoring.py LexiconSignals.score_stream, minus its ``@user``
bit). Test-only: it builds its own \\w+-run stream from the text instead
of reusing the LM's whitespace-token stream, so equality with
score_stream pins the reuse."""

from __future__ import annotations

import re

import numpy as np

from multi_task_offensive_language_detection_spark.functions.hashing import token_hash_batch
from multi_task_offensive_language_detection_spark.operators.scoring import LexiconSignals

#: maximal ASCII \w runs (re.ASCII = Java regex default classes)
_WORD_RUN = re.compile(r"\w+", re.ASCII)


def lexicon_score_standalone(lex: LexiconSignals, texts: list[str]):
    """(prof_hits int32[n], sig int32[n]) for lowercased texts —
    standalone form: builds its own \\w+-run stream."""
    n = len(texts)
    runs = [_WORD_RUN.findall(t) for t in texts]
    counts = np.fromiter((len(r) for r in runs), dtype=np.int64, count=n)
    flat = [w for r in runs for w in r]
    rows = np.repeat(np.arange(n), counts)
    h = token_hash_batch(flat) if flat else np.empty(0, np.uint64)
    return lex._score_hashes(n, h, rows)
