"""PySpark-native offensive-language quality-filter engine.

A from-scratch rebuild (NOT a port) of the capabilities of
``wenliangdai/multi-task-offensive-language-detection`` (Kungfupanda,
SemEval-2020 Task 12 — see SURVEY.md §0.3), re-expressed as a distributed
Spark pipeline per BASELINE.json's north_rule:

- language-ID gating (fastText-style char-n-gram scorer, SURVEY §2 F13/P6)
- perplexity gating (KenLM-style hashed n-gram counts + backoff, F14/P8)
- heuristic length / repetition / caps rules (F8-F10, P7)
- regex PII + profanity scrubbing (F11-F12)
- hierarchical OLID subtask A/B/C labeling (P3, taxonomy)
- hash repartitioning on the unique clip id, one task per core, against
  transcript-length skew (X1)
- per-partition ledger checkpoint + lineage + counters (S9, §4.4)

over tables of audio clip + transcript pairs
``(clip_id, bytes, sr_hz, dur_ms, codec, transcript)``.

Everything relational is stock Spark DataFrame API (Catalyst-optimized);
Python appears only in vectorized Arrow/pandas UDFs (langid, perplexity,
audio decode) — no per-row Python anywhere.
"""

__version__ = "0.1.0"
