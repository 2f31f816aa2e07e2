"""F11/F12 — scrub golden pairs + hypothesis properties (SURVEY.md §5.2.3)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.functions.scrub import (
    EMAIL_RE,
    IP_RE,
    PHONE_RE,
    SSN_RE,
    scrub_edit_count,
    scrub_pii,
    scrub_profanity,
)

# driver-free scrub evaluation: run the same chain with Python `re`
# mirroring regexp_replace semantics for the property tests (fast), and
# the Spark column for the golden batch test.
from multi_task_offensive_language_detection_spark.functions.scrub import PII_CHAIN
from multi_task_offensive_language_detection_spark.functions.scrub import _profanity_re


def scrub_all(col):
    """Full scrub: PII chain then profanity replacement."""
    return scrub_profanity(scrub_pii(col))


def scrub_py(s: str) -> str:
    for pat, repl in PII_CHAIN:
        s = re.sub(pat, repl, s)
    return re.sub(_profanity_re(), "<PROFANITY>", s)


def test_scrub_goldens_spark(spark):
    from tests.fixtures.scrub_gen import make_scrub_golden

    g = make_scrub_golden(300)
    sdf = spark.createDataFrame(g[["raw", "expected", "n_edits"]])
    out = sdf.select(
        "raw",
        "expected",
        "n_edits",
        scrub_all(F.col("raw")).alias("got"),
        scrub_edit_count(scrub_all(F.col("raw"))).alias("got_edits"),
    ).collect()
    bad = [(r["raw"], r["got"], r["expected"]) for r in out if r["got"] != r["expected"]]
    assert not bad, f"{len(bad)} scrub mismatches, e.g. {bad[:3]}"
    bad_edits = [r for r in out if r["got_edits"] != r["n_edits"]]
    assert not bad_edits, f"edit-count mismatches: {bad_edits[:3]}"


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_scrub_idempotent(s):
    once = scrub_py(s)
    assert scrub_py(once) == once


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_scrub_removes_all_pii(s):
    out = scrub_py(s)
    for pat in (EMAIL_RE, SSN_RE, IP_RE):
        assert re.search(pat, out) is None
    assert re.search(PHONE_RE, out) is None


@given(st.from_regex(r"[a-z ]{0,80}", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_scrub_noop_on_clean_lowercase_prose(s):
    """Clean text (no PII, no profanity) passes through unchanged —
    the transcript-equality invariant (BASELINE.json:15)."""
    if re.search(_profanity_re(), s):
        return
    assert scrub_py(s) == s


def test_phone_contiguous_ten_digits_scrubbed(spark):
    rows = [
        (1, "call 5551234567 now"),
        (2, "order id 12345678901 is longer than a phone"),  # 11 digits: keep
        (3, "短 123456789 only nine digits"),
    ]
    df = spark.createDataFrame(rows, "k long, raw string")
    out = {r["k"]: r["s"] for r in df.select("k", scrub_all(F.col("raw")).alias("s")).collect()}
    assert out[1] == "call <PHONE> now"
    assert "12345678901" in out[2]
    assert "123456789" in out[3]


_PII_PIECES = st.one_of(
    st.sampled_from(["@", "www.", "WwW.", "HTTP", "http://", "Https://", ".", "-", " ", "(", ")", "+1 "]),
    st.text(alphabet="0123456789", min_size=1, max_size=11),
    st.text(alphabet="abcxyzABCXYZ_", min_size=1, max_size=6),
)


@given(st.lists(st.lists(_PII_PIECES, max_size=12).map("".join), min_size=1, max_size=40))
@settings(max_examples=25, deadline=None)
def test_scrub_guards_match_unguarded_chain(spark, texts):
    """scrub_pii's outer guard and per-pattern guards only skip rows a
    pattern cannot match: its output equals the plain regexp_replace
    chain on strings built from digits, '@', 'www.', 'HTTP' and letters."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)] + [(-1, None)], "i long, t string")
    plain = F.col("t")
    for pat, repl in PII_CHAIN:
        plain = F.regexp_replace(plain, pat, repl)
    rows = df.select("i", scrub_pii(F.col("t")).alias("got"), plain.alias("want")).collect()
    bad = [(r["i"], r["got"], r["want"]) for r in rows if r["got"] != r["want"]]
    assert not bad, bad[:3]


def test_scrub_stays_in_whole_stage_codegen(spark):
    """The guarded chain compiles to one WholeStageCodegen method below
    the huge-method limit, above which Spark would run the stage
    interpreted."""
    df = spark.createDataFrame([("a@b.com 555-123-4567",)], "t string")
    out = df.repartition(2, "t").select(scrub_pii(F.col("t")).alias("p"))
    assert out.collect()[0]["p"] == "<EMAIL> <PHONE>"  # an adaptive plan codegens on execution
    debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug, "package$").__getattr__("MODULE$")
    subtrees = debug.codegenStringSeq(out._jdf.queryExecution().executedPlan())
    sizes = {
        subtrees.apply(i)._1().split("\n")[0]: subtrees.apply(i)._3().maxMethodCodeSize()
        for i in range(subtrees.size())
    }
    scrub = [size for tree, size in sizes.items() if "regexp_replace" in tree]
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    assert len(scrub) == 1 and scrub[0] < limit, (sizes, limit)
