"""M0 — fixture determinism + the anti-tautology guarantees
(SURVEY.md §5.2.1, FIXTURES.md preamble)."""

from __future__ import annotations

import ast
import os

import pandas as pd

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
ENGINE_PKG = "multi_task_offensive_language_detection_spark"


def test_no_cross_import():
    """Fixture generators must not import the engine package."""
    for name in os.listdir(FIXTURE_DIR):
        if not name.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(FIXTURE_DIR, name)).read())
        for node in ast.walk(tree):
            mods = []
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                mods = [node.module]
            for m in mods:
                assert not m.startswith(ENGINE_PKG), f"{name} imports engine: {m}"


def test_clips_generator_deterministic():
    from tests.fixtures.clips_gen import make_clips

    a_clips, a_gold = make_clips(n_rows=300)
    b_clips, b_gold = make_clips(n_rows=300)
    pd.testing.assert_frame_equal(a_clips, b_clips)
    pd.testing.assert_frame_equal(a_gold, b_gold)


#: sha256(arr.tobytes())[:16] of every artifact array at ARTIFACT_VERSION 5.
#: A kernel or training edit that changes an artifact must bump
#: ARTIFACT_VERSION (artifacts_build.py) and re-pin these.
ARTIFACT_DIGESTS = {
    "langid": {
        "langs": "b3327837174d5652",
        "logp_3": "ac87732f7ce74430",
        "prior": "caaa6699e5aca1f7",
    },
    "lm": {
        "uni": "dc425c6a57309014",
        "bi": "2db760b5d8e6a17e",
        "total": "2dd626c1556d6295",
    },
}


def test_artifact_build_deterministic(tmp_path):
    import hashlib

    import numpy as np

    from multi_task_offensive_language_detection_spark.artifacts_build import (
        ARTIFACT_VERSION,
        build_all,
    )

    p1 = build_all(str(tmp_path / "a"), force=True)
    p2 = build_all(str(tmp_path / "b"), force=True)
    assert ARTIFACT_VERSION == 5, "re-pin ARTIFACT_DIGESTS for the new version"
    for k in p1:
        z1, z2 = np.load(p1[k]), np.load(p2[k])
        assert sorted(z1.files) == sorted(z2.files) == sorted(ARTIFACT_DIGESTS[k])
        for f in z1.files:
            assert np.array_equal(z1[f], z2[f]), f"{k}:{f} differs between builds"
            digest = hashlib.sha256(z1[f].tobytes()).hexdigest()[:16]
            assert digest == ARTIFACT_DIGESTS[k][f], f"{k}:{f} content changed"


def test_clean_vocab_disjoint_from_engine_lexicons():
    """The TEST may look at both sides; the generators may not."""
    from multi_task_offensive_language_detection_spark import lexicons as L
    from tests.fixtures import templates as T

    lex = set(L.PROFANITY) | set(L.GROUP_NOUNS) | set(L.ENTITY_NOUNS) | set(L.SECOND_PERSON)
    clean = set(T.CLEAN_WORDS)
    for s in T.CLEAN_SENTENCES:
        clean.update(s.split())
    assert not (clean & lex), f"clean fixture words collide with lexicons: {clean & lex}"


def test_fixture_vocab_covered_by_lm():
    """Every keepable fixture word must be known to the LM (otherwise the
    perplexity gate would drop clean rows for vocabulary reasons)."""
    from multi_task_offensive_language_detection_spark.artifacts_build import (
        LM_EXTRA_TOKENS,
        WORDS,
    )
    from tests.fixtures import templates as T

    vocab = set(WORDS["en"]) | set(LM_EXTRA_TOKENS)
    words = set(T.CLEAN_WORDS)
    for s in T.CLEAN_SENTENCES:
        words.update(s.split())
    for tpl in T.UNT_TEMPLATES + T.IND_TEMPLATES + T.GRP_TEMPLATES + T.OTH_TEMPLATES:
        words.update(
            w
            for w in tpl.replace("{ins}", "").replace("{grp}", "")
            .replace("{ent}", "").replace("@{handle}", "").split()
        )
    words |= set(T.INSULTS) | set(T.GROUP_TARGETS) | set(T.ENTITY_TARGETS)
    missing = {w for w in words if w and w not in vocab}
    assert not missing, f"fixture words unknown to LM: {sorted(missing)}"
