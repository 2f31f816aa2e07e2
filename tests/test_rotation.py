"""Driver-window rotation: the correctness gate samples only the first
DRIVER_WINDOW registered check keys per round, so registration order must
guarantee no key's last driver row goes stale by more than one round.
Rounds 1-2 hand-maintained the order; it is now generated from the
recorded CORRECTNESS_r*.json history (never-verified first, then
stalest-first) — these tests pin the generator's contract.
"""

from __future__ import annotations

import os

from multi_task_offensive_language_detection_spark import checks


def test_rotation_never_verified_keys_lead():
    order = checks.rotation_order(["a", "b", "c", "d"], {"a": 2, "c": 1})
    assert order == ["b", "d", "c", "a"]  # unverified first, then stalest


def test_rotation_is_stable_within_a_round():
    # equal-history keys keep their registration (decorator) order
    order = checks.rotation_order(["x", "y", "z"], {"x": 1, "y": 1, "z": 1})
    assert order == ["x", "y", "z"]


def test_no_key_goes_stale_beyond_one_round():
    """Every registered key must either (a) have a driver row from the
    most recent recorded round, or (b) sit inside the first-DRIVER_WINDOW
    slice — i.e. be guaranteed a row in the round about to run. If this
    fails, more keys than fit one window have aged out: shrink the check
    surface or wait a round before adding more keys."""
    last = checks.correctness_history()
    assert last, "driver correctness records missing from the repo root"
    max_round = max(last.values())
    order = list(checks.QUERIES)
    window = set(order[: checks.DRIVER_WINDOW])
    stale = [
        k for k in order if last.get(k, -1) < max_round and k not in window
    ]
    assert stale == [], f"keys starving outside the driver window: {stale}"


def test_duplicate_check_key_rejected():
    """A second @check registration must raise, not silently shadow the
    first in QUERIES/ORACLES (the r4 tpch_q1 incident)."""
    import pytest

    existing = next(iter(checks.QUERIES))
    with pytest.raises(ValueError, match="duplicate"):
        checks.check(existing)(lambda spark, sf: None)
    assert len(checks.QUERIES) == len(set(checks.QUERIES))


def test_registered_order_matches_generator():
    # QUERIES must actually BE in generated rotation order (the module
    # applies it at import time) and ORACLES must follow the same order
    order = list(checks.QUERIES)
    assert order == checks.rotation_order(order)  # idempotent fixpoint
    oracle_keys = list(checks.ORACLES)
    assert oracle_keys == [k for k in order if k in checks.ORACLES]


def test_red_key_sorts_first_even_when_fresh():
    """r5 verdict #2: a hash-RED key may never wait out a round — it must
    lead the next window even if its red row is from the latest round."""
    order = checks.rotation_order(
        ["a", "b", "c"], {"a": 5, "b": 4, "c": 5}, red={"c"}
    )
    assert order[0] == "c"
    assert order == ["c", "b", "a"]


def test_changed_oracle_sorts_after_new_before_stale():
    """A key whose oracle SQL changed since its last green row needs
    driver re-confirmation: it sorts behind never-verified keys but
    ahead of merely-stale ones."""
    order = checks.rotation_order(
        ["fresh", "stale", "edited", "new"],
        {"fresh": 5, "stale": 4, "edited": 5},
        changed={"edited"},
    )
    assert order == ["new", "edited", "stale", "fresh"]


def test_oracle_changed_keys_detects_fingerprint_mismatch(tmp_path):
    import json

    store = tmp_path / "fp.json"
    oracles = {"k1": "SELECT 1", "k2": "SELECT 2", "k3": "SELECT 3"}
    store.write_text(
        json.dumps(
            {
                "k1": {"round": 5, "fp": checks.oracle_fingerprint("SELECT 1")},
                "k2": {"round": 5, "fp": checks.oracle_fingerprint("OLD SQL")},
            }
        )
    )
    changed = checks.oracle_changed_keys(oracles, path=str(store))
    # k1 matches, k2 mismatches, k3 has no record (treated unchanged)
    assert changed == {"k2"}
    # fingerprints are whitespace-insensitive: reformatting isn't a change
    assert checks.oracle_fingerprint("SELECT  1\n") == checks.oracle_fingerprint(
        "SELECT 1"
    )


def test_fingerprint_ignores_the_checkout_path(tmp_path):
    """An oracle that reads a pinned fixture embeds its absolute path; a
    copy of the package at another root must fingerprint it the same, or
    every such key reads as changed in any other checkout."""
    import shutil
    import subprocess
    import sys

    key = "str_hashtag_segment"
    assert checks._REPO_ROOT in checks.ORACLES[key]
    pkg = os.path.dirname(os.path.abspath(checks.__file__))
    shutil.copytree(pkg, tmp_path / os.path.basename(pkg), ignore=shutil.ignore_patterns("__pycache__"))
    code = (
        "from multi_task_offensive_language_detection_spark import checks as c; "
        f"assert c._REPO_ROOT != {checks._REPO_ROOT!r}; "
        f"print(c.oracle_fingerprint(c.ORACLES[{key!r}]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == checks.oracle_fingerprint(checks.ORACLES[key])


def test_fingerprint_store_covers_green_oracled_keys():
    """The committed store must vouch for every oracled key with a green
    driver row — otherwise a future oracle edit on it goes undetected.

    Lifecycle exemption (r6 verdict #1): the driver writes each round's
    CORRECTNESS file AFTER the builder's final commit, so a key whose
    FIRST green row arrives in a round newer than anything the store has
    seen cannot have been recorded yet — that is the record-at-next-
    session-start contract of tools/record_oracle_fingerprints.py, not a
    coverage hole. Only keys green at or before the store's latest
    recorded round are required to be present."""
    import json

    with open(checks._FPRINT_PATH) as f:
        recorded = json.load(f)
    store_round = max(
        (v.get("round", -1) for v in recorded.values()), default=-1
    )
    last = checks.correctness_history()
    red = checks.correctness_red()
    missing = [
        k
        for k in checks.ORACLES
        if 0 <= last.get(k, -1) <= store_round
        and k not in red
        and k not in recorded
    ]
    assert missing == [], f"unfingerprinted green keys: {missing}"


def test_next_round_window_covers_remaining_stale():
    """Forward simulation of the upcoming driver gate: after the current
    window's keys all record a row, the FOLLOWING round's window must
    still cover every then-stale key. Pins the retire-to-add capacity
    math (registered keys ≤ 2×DRIVER_WINDOW with balanced cohorts) one
    round ahead, so a key swap that silently unbalances the cohorts
    fails here instead of starving keys two rounds later."""
    last = checks.correctness_history()
    order = list(checks.QUERIES)
    window = order[: checks.DRIVER_WINDOW]
    nxt = dict(last)
    rnd = max(last.values()) + 1
    for k in window:
        nxt[k] = rnd
    order2 = checks.rotation_order(order, nxt)
    future_window = set(order2[: checks.DRIVER_WINDOW])
    stale = [
        k for k in order2 if nxt.get(k, -1) < rnd and k not in future_window
    ]
    assert stale == [], f"keys that would starve in round {rnd + 1}: {stale}"
