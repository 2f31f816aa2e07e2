"""M7 — ledger/resume protocol (SURVEY.md §4.4, §5.2.5): kill-and-rerun
reprocesses only pending partitions; counters equal straight-through."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.plans.pipeline import run_clips_pipeline
from multi_task_offensive_language_detection_spark.sources.ledger import Ledger


@pytest.fixture(scope="module")
def small_clips(tmp_path_factory):
    from tests.fixtures.clips_gen import write_clips_parquet

    d = tmp_path_factory.mktemp("resume")
    clips_dir, _ = write_clips_parquet(str(d), n_rows=400)
    return str(d), clips_dir


def test_resume_after_partial_run(spark, artifacts, small_clips):
    base, clips_dir = small_clips
    out, led = f"{base}/out", f"{base}/ledger"

    s1 = run_clips_pipeline(spark, clips_dir, out, led)
    assert s1["processed_parts"] == 16 and s1["n_in"] == 400

    # rerun: nothing pending
    s2 = run_clips_pipeline(spark, clips_dir, out, led)
    assert s2["processed_parts"] == 0 and s2["skipped_parts"] == 16
    for k in ("n_in", "n_keep", "n_langid_reject", "n_ppl_drop", "n_scrub_edits"):
        assert s2[k] == s1[k], k

    # simulate a mid-run kill: two partitions never committed
    for p in (3, 11):
        os.remove(f"{led}/part-{p:06d}.json")
        shutil.rmtree(f"{out}/part_id={p}")
    s3 = run_clips_pipeline(spark, clips_dir, out, led)
    assert s3["processed_parts"] == 2 and s3["skipped_parts"] == 14
    for k in ("n_in", "n_keep", "n_langid_reject", "n_ppl_drop", "n_scrub_edits"):
        assert s3[k] == s1[k], f"counter {k} drifted across resume"

    # output is complete and unduplicated
    got = spark.read.parquet(out)
    assert got.count() == 400
    assert got.select("clip_id").distinct().count() == 400


def test_changed_input_fingerprint_triggers_reprocess(spark, artifacts, small_clips, tmp_path):
    base, clips_dir = small_clips
    # copy input, run, then mutate one partition's file size → stale fp
    in2 = str(tmp_path / "clips2")
    shutil.copytree(clips_dir, in2)
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    s1 = run_clips_pipeline(spark, in2, out, led)
    assert s1["processed_parts"] == 16

    part_dir = os.path.join(in2, "part_id=5")
    fname = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
    # new data file lands in the partition → file-list fingerprint changes
    shutil.copy(os.path.join(part_dir, fname), os.path.join(part_dir, "extra.parquet"))

    s2 = run_clips_pipeline(spark, in2, out, led)
    assert s2["processed_parts"] == 1, "changed input partition must reprocess"


def test_ledger_attempt_increments(tmp_path):
    from multi_task_offensive_language_detection_spark.sources.ledger import LedgerEntry

    led = Ledger(str(tmp_path))
    led.commit(LedgerEntry(part_id=1, status="done", fingerprint="aa"))
    led.commit(LedgerEntry(part_id=1, status="done", fingerprint="bb"))
    assert led.read_one(1).attempt == 2


def test_ledger_reads_legacy_and_unknown_keys(tmp_path):
    # a ledger written by an older engine (wall_ms instead of job_wall_ms)
    # or a newer one (extra counters) must still load and resume cleanly —
    # a read-side TypeError would turn every resume into a full rescore
    import json

    led = Ledger(str(tmp_path))
    legacy = {
        "part_id": 3,
        "status": "done",
        "fingerprint": "cafe",
        "n_in": 10,
        "n_keep": 8,
        "wall_ms": 1234,  # legacy name
        "future_counter": 99,  # unknown key from a newer writer
    }
    with open(tmp_path / "part-000003.json", "w") as f:
        json.dump(legacy, f)
    e = led.read_one(3)
    assert e.job_wall_ms == 1234 and e.n_keep == 8
    assert led.pending([3], {3: "cafe"}) == []
    assert led.pending([3], {3: "changed"}) == [3]
    assert led.totals()["n_in"] == 10


def test_audio_audit_sampled(spark, artifacts, small_clips):
    """The sampled audit decodes real fixture audio and reports health;
    the text pipeline itself never touches bytes (plan-shape test)."""
    from multi_task_offensive_language_detection_spark.plans.pipeline import audit_audio

    _, clips_dir = small_clips
    rep = audit_audio(spark, clips_dir, sample_fraction=0.3)
    assert rep["n_sampled"] > 30
    assert rep["n_decode_failures"] == 0
    assert 0.0 < rep["mean_rms"] < 1.0


def test_same_size_content_change_triggers_reprocess(spark, artifacts, small_clips, tmp_path):
    # the fingerprint covers (name, size, mtime_ns): an in-place rewrite
    # with identical name AND size must still invalidate the partition
    base, clips_dir = small_clips
    in3 = str(tmp_path / "clips3")
    shutil.copytree(clips_dir, in3)
    out, led = str(tmp_path / "out3"), str(tmp_path / "ledger3")
    s1 = run_clips_pipeline(spark, in3, out, led)
    assert s1["processed_parts"] == 16

    part_dir = os.path.join(in3, "part_id=7")
    fname = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
    p = os.path.join(part_dir, fname)
    data = open(p, "rb").read()
    with open(p, "wb") as f:  # same name, same byte count, new mtime
        f.write(data)
    s2 = run_clips_pipeline(spark, in3, out, led)
    assert s2["processed_parts"] == 1, "same-size rewrite must reprocess"


def test_ledger_wall_time_is_job_level(spark, artifacts, small_clips, tmp_path):
    # per-part wall attribution over one interleaved salted stage would be
    # fiction; the ledger records the honest job-level wall instead
    base, clips_dir = small_clips
    out, led = str(tmp_path / "out4"), str(tmp_path / "ledger4")
    run_clips_pipeline(spark, clips_dir, out, led)
    entries = Ledger(led).read_all().values()
    walls = {e.job_wall_ms for e in entries}
    assert len(walls) == 1 and walls.pop() > 0


def test_missing_input_raises_not_silent_noop(spark, tmp_path):
    import pytest

    from multi_task_offensive_language_detection_spark.sources.clips import list_parts

    with pytest.raises(FileNotFoundError, match="does not exist"):
        list_parts(str(tmp_path / "nope"))
    (tmp_path / "empty").mkdir()
    with pytest.raises(FileNotFoundError, match="part_id"):
        list_parts(str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError):
        run_clips_pipeline(
            spark, str(tmp_path / "nope"), str(tmp_path / "o"), str(tmp_path / "l")
        )


def test_snapshot_sink_resume_and_time_travel(spark, artifacts, small_clips, tmp_path):
    """--sink snapshots: each run commits ONE snapshot of the store
    (journal meta = the processed parts); a killed-and-resumed run
    overwrites only the missing partitions, the final table is complete
    and unduplicated, and the pre-resume snapshot is still readable
    (time travel across job runs)."""
    from multi_task_offensive_language_detection_spark.sources.snapshots import (
        SnapshotStore,
    )

    _, clips_dir = small_clips
    out, led = str(tmp_path / "snap_tbl"), str(tmp_path / "ledger")

    s1 = run_clips_pipeline(spark, clips_dir, out, led, sink="snapshots")
    assert s1["processed_parts"] == 16
    store = SnapshotStore(out, "part_id")
    snaps = store.snapshots()
    assert len(snaps) == 1
    assert snaps[0]["meta"]["parts"] == sorted(range(16))
    assert store.read(spark).count() == 400

    # rerun: nothing pending, no new snapshot
    s2 = run_clips_pipeline(spark, clips_dir, out, led, sink="snapshots")
    assert s2["processed_parts"] == 0 and len(store.snapshots()) == 1

    # simulate a kill: drop two ledger markers -> only those parts rerun
    for p in (2, 9):
        os.remove(f"{led}/part-{p:06d}.json")
    s3 = run_clips_pipeline(spark, clips_dir, out, led, sink="snapshots")
    assert s3["processed_parts"] == 2
    snaps = store.snapshots()
    assert len(snaps) == 2 and snaps[-1]["meta"]["parts"] == [2, 9]
    latest = store.read(spark)
    assert latest.count() == 400
    assert latest.select("clip_id").distinct().count() == 400
    # time travel: the first run's table is intact under the new snapshot
    assert store.read(spark, as_of=snaps[0]["snapshot_id"]).count() == 400
    for k in ("n_in", "n_keep", "n_scrub_edits"):
        assert s3[k] == s1[k], f"counter {k} drifted across snapshot resume"


def test_read_clips_schema_equals_inferred(spark, clips_fixture):
    """read_clips declares the clips schema instead of inferring it from
    Parquet footers: same column names, types and rows."""
    from multi_task_offensive_language_detection_spark.sources.clips import read_clips

    declared = read_clips(spark, clips_fixture[0])
    inferred = spark.read.parquet(clips_fixture[0])
    assert declared.dtypes == inferred.dtypes
    assert declared.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(declared).count() == 0
