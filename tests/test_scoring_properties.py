"""Model-property tests (SURVEY.md §5.2.3): perplexity monotonicity under
token corruption; langid quality on a held-out synthetic corpus."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from multi_task_offensive_language_detection_spark.artifacts_build import (
    WORDS,
    build_all,
)
from multi_task_offensive_language_detection_spark.operators.langid import LangidModel
from multi_task_offensive_language_detection_spark.operators.perplexity import NgramLM


def lower_guarded(col):
    """The JVM lowercasing _normalize_batch stands in for: lower() copies the
    string even when it's already lowercase, so an uppercase search
    guards it and all-lowercase rows pass through."""
    from pyspark.sql import functions as F

    return F.when(col.rlike("[A-Z]"), F.lower(col)).otherwise(col)


@pytest.fixture(scope="module")
def models(artifacts):
    return LangidModel.load(artifacts["langid"]), NgramLM.load(artifacts["lm"])


@given(
    st.lists(st.sampled_from(WORDS["en"][:200]), min_size=4, max_size=20),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_ppl_monotone_under_corruption(models, words, data):
    """Replacing a known token with an out-of-vocabulary pseudo-word never
    DECREASES perplexity (the quality-gate semantic: corruption can only
    look worse)."""
    _, lm = models
    clean = " ".join(words)
    idx = data.draw(st.integers(0, len(words) - 1))
    corrupted = words.copy()
    corrupted[idx] = "zqvxjkwp"  # guaranteed OOV
    p_clean = lm.ppl(clean)
    p_bad = lm.ppl(" ".join(corrupted))
    assert p_bad >= p_clean * 0.999  # tolerance for float noise


def test_ppl_scales_with_corruption_count(models):
    _, lm = models
    base = "the people said they would go to the house today and heard music".split()
    ppls = []
    for k in range(0, 5):
        t = base.copy()
        for j in range(k):
            t[j * 2] = f"zq{j}vx"
        ppls.append(lm.ppl(" ".join(t)))
    assert all(a < b for a, b in zip(ppls, ppls[1:])), ppls


def test_langid_holdout_accuracy(models):
    """Accuracy on freshly-sampled sentences (seed differs from training)
    must be ~perfect — the gate's false-reject rate budget."""
    m, _ = models
    rng = np.random.default_rng(991)
    texts, gold = [], []
    for lang, vocab in WORDS.items():
        v = np.asarray(vocab, dtype=object)
        for _ in range(200):
            texts.append(" ".join(rng.choice(v, size=rng.integers(4, 15))))
            gold.append(lang)
    res = m.score_batch(pd.Series(texts))
    acc = float(np.mean(res["lang"].to_numpy() == np.asarray(gold, dtype=object)))
    assert acc >= 0.995, acc


def test_langid_empty_and_whitespace(models):
    m, _ = models
    res = m.score_batch(pd.Series(["", "   ", None]))
    assert list(res["lang"])[0] == "und" or res["conf"][0] == 0.0


def test_langid_batch_composition_independence(models):
    # regressions: the reduceat boundary clamp truncated the LAST
    # feature-bearing row whenever an Arrow batch ended with featureless
    # rows (empty/short/null texts), and the stride-2 n-gram sample ran
    # over the flattened batch, so a row's kept n-grams depended on the
    # parity of the n-grams before it ("abc" has one) — making keep/drop
    # depend on batch neighbors. Scores must be exactly identical however
    # rows batch.
    langid, _ = models
    texts = ["la casa the house el dia", "the people said they would go home"]
    solo = langid.score_batch(pd.Series(texts))
    tail = langid.score_batch(pd.Series(texts + ["", "ab", None, ""]))
    head = langid.score_batch(pd.Series(["", None] + texts + [""]))
    odd = langid.score_batch(pd.Series(["abc"] + texts))
    assert (
        list(solo["lang"])
        == list(tail["lang"][:2])
        == list(head["lang"][2:4])
        == list(odd["lang"][1:])
    )
    np.testing.assert_array_equal(solo["conf"].to_numpy(), tail["conf"].to_numpy()[:2])
    np.testing.assert_array_equal(solo["conf"].to_numpy(), head["conf"].to_numpy()[2:4])
    np.testing.assert_array_equal(solo["conf"].to_numpy(), odd["conf"].to_numpy()[1:])
    for frame in (tail, head):
        und = frame[frame["lang"] == "und"]
        assert (und["conf"] == 0.0).all()


def test_ppl_stats_stream_edge_cases(models):
    _, lm = models
    # empty batch
    ppl, n_tok, rep, stream = lm.ppl_stats_batch(pd.Series([], dtype=object), return_stream=True)
    assert len(ppl) == 0 and len(n_tok) == 0 and len(rep) == 0
    batch, tok = stream
    assert len(batch) == 0 and len(tok.hashes) == 0
    # all-featureless batch
    ppl, n_tok, rep, stream = lm.ppl_stats_batch(pd.Series(["", None, "   "]), return_stream=True)
    assert np.isinf(ppl).all()
    assert list(n_tok) == [0, 0, 0] and list(rep) == [0.0, 0.0, 0.0]
    # n_tokens/rep agree with direct computation
    texts = pd.Series(["the the the", "a b c d", "x", ""])
    _, n_tok, rep, _ = lm.ppl_stats_batch(texts, return_stream=True)
    assert list(n_tok) == [3, 4, 1, 0]
    assert abs(rep[0] - (1 - 1 / 3)) < 1e-12 and rep[1] == 0.0 and rep[2] == 0.0


def test_lexicon_stream_equals_standalone_on_punctuated_batch(models):
    from multi_task_offensive_language_detection_spark.operators.scoring import (
        LexiconSignals,
    )
    from tests.scoring_reference import signals_ref

    _, lm = models
    lex = LexiconSignals()
    texts = [
        "damn, you idiots!!", "(scum)", "plain clean text", "",
        "trash...garbage", "you're a moron", "@user people here",
    ]
    p_ref, s_ref = signals_ref(lex, texts)
    _, _, _, stream = lm.ppl_stats_batch(pd.Series(texts), return_stream=True)
    p_st, s_st = lex.score_stream(len(texts), *stream)
    assert list(p_ref) == list(p_st)
    assert list(s_ref) == list(s_st)


# --- Python-kernel ≡ JVM-expression equivalence (round 3) -------------------
# The normalization and char stats moved from JVM Column expressions into
# the fused Arrow UDF for bandwidth reasons; these tests pin the Python
# kernels to the exact semantics of the expressions they replaced.

def _rows(batch) -> list[str]:
    """The lowered rows a CodeBatch holds."""
    return [
        batch.codes[s:e].tobytes().decode("utf-32-le")
        for s, e in zip(batch.starts, batch.ends, strict=True)
    ]


_ADVERSARIAL = [
    "",
    " ",
    "   leading and   trailing   ",
    "ALL CAPS SHOUTING TEXT",
    "MiXeD CaSe witH Stuff",
    "aaa",
    "aaaaaa",
    "aaaaaabbbbbb ccc",
    "ab",
    "a\tb\nc\x0b d\fe\rf",
    "\t\n  \r",
    "no runs here at all",
    "wheeeeeeee!!!!! SO COOL",
    "x" * 200,
    "tab\t\ttab  double",
    "newline\n\n\nruns\nhere",  # \n runs are invisible to (.)\1 (dot excludes them)
    "dots...... and ??????",
    "1234444445678",
    "end with run aaaaa",
    "aaaaa start with run",
    "üüüüü unicode ÄÖÜ runs",  # non-ASCII: letters don't count for caps
    "a  b",
]


def test_char_stats_batch_matches_jvm_expressions(spark):
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.functions import text as FT
    from multi_task_offensive_language_detection_spark.operators.scoring import (
        char_stats_batch,
    )

    min_run = 5
    df = spark.createDataFrame([(i, t) for i, t in enumerate(_ADVERSARIAL)], "i long, t string")
    jvm = {
        r["i"]: r
        for r in df.select(
            "i",
            FT.caps_ratio(F.col("t")).alias("caps"),
            FT.has_char_run(F.col("t"), min_run).alias("run"),
            FT.rep_char_ratio(F.col("t")).alias("rep"),
        ).collect()
    }
    caps, runs, reps = char_stats_batch(_ADVERSARIAL, min_run)
    for i in range(len(_ADVERSARIAL)):
        assert caps[i] == jvm[i]["caps"], (i, _ADVERSARIAL[i], caps[i], jvm[i]["caps"])
        assert bool(runs[i]) == jvm[i]["run"], (i, _ADVERSARIAL[i])
        assert reps[i] == jvm[i]["rep"], (i, _ADVERSARIAL[i], reps[i], jvm[i]["rep"])


def test_normalize_batch_matches_jvm_expression(spark):
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.functions import text as FT
    from multi_task_offensive_language_detection_spark.operators.scoring import (
        _normalize_batch,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(_ADVERSARIAL)], "i long, t string")
    jvm = {
        r["i"]: r["n"]
        for r in df.select(
            "i", FT.normalize_ws(lower_guarded(F.col("t"))).alias("n")
        ).collect()
    }
    got = _rows(_normalize_batch(pd.Series(_ADVERSARIAL)))
    for i in range(len(_ADVERSARIAL)):
        assert got[i] == jvm[i].lower(), (i, repr(_ADVERSARIAL[i]), repr(got[i]), repr(jvm[i]))


def test_null_text_scores_as_empty(spark):
    """NULL-coercion pin (ADVICE r3): the fused UDF treats a NULL text as
    '' — the INTENDED semantic (a quality filter decides every row; the
    JVM twins would propagate NULL instead, asserted below so the
    divergence stays visible)."""
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.functions import text as FT
    from multi_task_offensive_language_detection_spark.plans.pipeline import (
        score_transcripts,
    )

    df = spark.createDataFrame(
        [("null_row", None), ("empty_row", "")], "clip_id string, transcript string"
    )
    rows = {r["clip_id"]: r for r in score_transcripts(df).collect()}
    nul, emp = rows["null_row"], rows["empty_row"]
    assert nul["keep"] == emp["keep"] is False
    assert nul["drop_reason"] == emp["drop_reason"] == "length"  # same gate
    assert nul["scores"] == emp["scores"]
    # the scrub chain stays NULL-preserving (the row is dropped anyway;
    # fabricating '' for a NULL input would violate faithfulness)
    assert nul["scrubbed_transcript"] is None
    assert emp["scrubbed_transcript"] == ""
    # the JVM twins, by contrast, are NULL-propagating — documented divergence
    jvm = df.select(
        "clip_id",
        FT.caps_ratio(F.col("transcript")).alias("caps"),
        FT.normalize_ws(lower_guarded(F.col("transcript"))).alias("n"),
    ).collect()
    jn = {r["clip_id"]: r for r in jvm}
    assert jn["null_row"]["caps"] is None and jn["null_row"]["n"] is None
    assert jn["empty_row"]["caps"] == 0.0 and jn["empty_row"]["n"] == ""


@given(
    st.text(
        alphabet=st.sampled_from(
            list("abcDEF !?\t\n\x0b\f\r.@#") + ["ü", "Ä"]
        ),
        max_size=40,
    )
)
@settings(max_examples=30, deadline=None)
def test_char_stats_property_random_strings(spark, s):
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.functions import text as FT
    from multi_task_offensive_language_detection_spark.operators.scoring import (
        _normalize_batch,
        char_stats_batch,
    )

    df = spark.createDataFrame([(s,)], "t string")
    r = df.select(
        FT.caps_ratio(F.col("t")).alias("caps"),
        FT.has_char_run(F.col("t"), 5).alias("run"),
        FT.rep_char_ratio(F.col("t")).alias("rep"),
        FT.normalize_ws(lower_guarded(F.col("t"))).alias("n"),
    ).collect()[0]
    caps, runs, reps = char_stats_batch([s], 5)
    assert caps[0] == r["caps"] and bool(runs[0]) == r["run"] and reps[0] == r["rep"]
    assert _rows(_normalize_batch(pd.Series([s]))) == [r["n"].lower()]


# --- one code-point buffer per batch ≡ per-row str kernels -----------------

#: the traps of scoring from one lowered buffer: Unicode whitespace that
#: str.split() breaks on and the Java-\\s collapse keeps (NBSP, U+2003,
#: U+001C), the ASCII-guarded lower (a row with only non-ASCII capitals),
#: multi-char and context-dependent lowers at langid's 128-char cut
#: ('İ', final sigma), NUL, astral chars, \\w runs inside punctuated
#: tokens and the '@user' mention
_TRAP_CHARS = list("aAbBxXuserUSER @_.,!'-09\t\n\x0b\f\r\x00") + [
    "\xa0", "\u2003", "\x1c", "\x85", "İ", "Σ", "σ", "ς", "Ä", "ä", "é",
    "\u0307", "😀",
]
_TRAP_WORDS = ["@user", "@USER", "damn", "You", "THEM", "İstanbul", "ΟΔΟΣ", "x" * 20]


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=st.sampled_from(_TRAP_CHARS), max_size=40),
            st.lists(
                st.one_of(
                    st.sampled_from(_TRAP_WORDS),
                    st.text(alphabet=st.sampled_from(_TRAP_CHARS), max_size=6),
                ),
                max_size=60,
            ).map(" ".join),
        ),
        max_size=8,
    )
)
@settings(max_examples=300, deadline=None)
def test_fused_kernels_match_per_row_reference(models, texts):
    """langid, the LM, the lexicon signals and '@user' read one lowered
    CodeBatch per batch; every output equals the per-row str kernels
    (tests/scoring_reference.py) exactly, over NULL, empty, long
    (> MAX_CHARS) and trap-laden rows."""
    from multi_task_offensive_language_detection_spark.operators.scoring import (
        LexiconSignals,
        _normalize_batch,
    )
    from tests import scoring_reference as ref

    langid, lm = models
    lex = LexiconSignals()
    norm = [ref.normalize_ref(t) for t in texts]
    batch = _normalize_batch(pd.Series(texts, dtype=object))
    assert _rows(batch) == [t.lower() for t in norm]
    got, want = langid.score_batch(batch), ref.langid_ref(langid, norm)
    assert list(got["lang"]) == list(want["lang"])
    np.testing.assert_array_equal(got["conf"].to_numpy(), want["conf"].to_numpy())
    ppl, n_tok, rep, stream = lm.ppl_stats_batch(batch, return_stream=True)
    for g, w in zip((ppl, n_tok, rep), ref.lm_ref(lm, norm), strict=True):
        np.testing.assert_array_equal(g, w)
    for g, w in zip(lex.score_stream(len(batch), *stream), ref.signals_ref(lex, norm), strict=True):
        np.testing.assert_array_equal(g, w)


def test_space_table_is_str_isspace():
    """str.split()'s separators all lie below the table's last slot."""
    import sys

    from multi_task_offensive_language_detection_spark.functions.hashing import _SPACE

    spaces = [c for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    assert max(spaces) < len(_SPACE) - 1
    assert np.flatnonzero(_SPACE).tolist() == spaces


def test_load_models_freezes_gc(artifacts):
    """The models and everything loaded before them move to the
    permanent generation, so the worker's per-task gc.collect() skips
    them."""
    import gc

    from multi_task_offensive_language_detection_spark.operators.scoring import _load_models

    _load_models.cache_clear()
    gc.unfreeze()
    try:
        _load_models(artifacts["langid"], artifacts["lm"])
        assert gc.get_freeze_count() > 0
    finally:
        _load_models.cache_clear()
        gc.unfreeze()
