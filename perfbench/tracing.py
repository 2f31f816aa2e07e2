"""The traced run: Spark's uncompressed event log digested per labelled
call, plus direct timings of single layers called from outside.

Every step of a traced run carries a ``setJobDescription`` label
(``setup``, ``prime``, ``job-<i>``, ``probe-scrub-<i>``, ``probe-kernels``),
so each Spark job, stage, task and SQL plan in the log belongs to one
step. Per-layer figures are useful time at the operator (task run, CPU
and GC time, Python worker time, bytes through exchanges and the Arrow
boundary), not end-to-end walls. A layer the workload's entry point does
not run reads 0 on that workload.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.artifacts_build import build_all
from multi_task_offensive_language_detection_spark.functions.scrub import scrub_pii
from multi_task_offensive_language_detection_spark.lexicons import THRESHOLDS
from multi_task_offensive_language_detection_spark.operators.langid import LangidModel
from multi_task_offensive_language_detection_spark.operators.perplexity import NgramLM
from multi_task_offensive_language_detection_spark.operators.scoring import (
    LexiconSignals,
    _normalize_batch,
    char_stats_batch,
)
from multi_task_offensive_language_detection_spark.plans.pipeline import salted_repartition

#: per-layer metric -> (layer, the end-to-end metric and workload it should move)
LAYERS = {
    "session.start_s": ("session", "setup_s, all workloads"),
    "artifacts.load_s": ("artifacts_build", "setup_s, all workloads"),
    "score.py_init_s": ("Python workers of the Arrow UDF stage", "setup_s, all workloads"),
    "clips.list_fingerprint_s": ("sources.clips", "job_s on clips_resume"),
    "ledger.pending_s": ("sources.ledger", "job_s on clips_resume"),
    "ledger.totals_s": ("sources.ledger", "job_s on clips_resume"),
    "job.stages": ("plans.pipeline", "job_s on clips_resume"),
    "job.tasks": ("plans.pipeline", "job_s on clips_resume"),
    "scan.input_bytes": ("sources.clips", "job_s on clips_filter"),
    "salt.shuffle_bytes": ("plans.pipeline salt", "job_s on clips_filter"),
    "salt.task_max_over_median": ("plans.pipeline salt", "job_s on clips_filter"),
    "scrub.native_s": ("functions.scrub", "job_s on clips_filter"),
    "score.stage_s": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.python_share": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.py_bytes_in": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.py_bytes_out": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.py_run_s": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.task_cpu_s": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.gc_s": ("operators.scoring", "rows_per_s on clips_filter"),
    "score.spill_bytes": ("operators.scoring", "rows_per_s on clips_filter"),
    "kernel.normalize_us_per_row": ("operators.scoring", "rows_per_s on clips_filter"),
    "kernel.langid_us_per_row": ("operators.langid", "rows_per_s on clips_filter"),
    "kernel.lm_us_per_row": ("operators.perplexity", "rows_per_s on clips_filter"),
    "kernel.lexicon_us_per_row": ("operators.scoring", "rows_per_s on clips_filter"),
    "kernel.char_stats_us_per_row": ("operators.scoring", "rows_per_s on clips_filter"),
    "write.task_s": ("plans.pipeline clustered write", "job_s on clips_filter and clips_resume"),
    "write.output_bytes": ("plans.pipeline clustered write", "job_s on clips_filter and clips_resume"),
    "write.files": ("plans.pipeline clustered write", "job_s on clips_filter and clips_resume"),
    "counters.rescan_s": ("plans.pipeline counter rescan", "job_s on clips_filter and clips_resume"),
    "lsh.features_task_s": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.features_stage_runs": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.exchange_bytes": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.candidate_pairs": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.verify_yield": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.verify_task_s": ("operators.dedup", "job_s on neardup_lsh"),
    "lsh.cache_bytes": ("operators.dedup", "peak_rss_mb on neardup_lsh"),
    "lsh.spill_bytes": ("operators.dedup", "peak_rss_mb on neardup_lsh"),
    "lsh.max_task_over_median": ("operators.dedup", "job_s on neardup_lsh"),
    "trace.overhead_s": ("benchmark tracing", "traced job_s minus untraced job_s"),
}

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
WRITE_MARK = "task commit time"
ROWS_OUT = "number of output rows"

#: rows per kernel batch: spark.sql.execution.arrow.maxRecordsPerBatch
KERNEL_BATCH = 10_000
KERNEL_REPS = 5
PROBE_REPS = 5
SCRUB_REPS = 3


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, from
    the rolling ``eventlog_v2_*/events_<n>_*`` files in order."""
    import json

    files = []
    for d in sorted(os.listdir(log_dir)):
        app = os.path.join(log_dir, d)
        if d.startswith("eventlog_v2_") and os.path.isdir(app):
            for name in os.listdir(app):
                if name.startswith("events_"):
                    files.append((int(name.split("_")[1]), os.path.join(app, name)))
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    events = []
    for _, path in sorted(files):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class Stage:
    def __init__(self, info: dict):
        self.id = info["Stage ID"]
        self.name = info["Stage Name"]
        self.wall_s = (info["Completion Time"] - info["Submission Time"]) / 1000
        self.acc: dict[str, float] = {}
        self.acc_ids: dict[int, float] = {}
        for a in info.get("Accumulables", []):
            v = _num(a.get("Value"))
            self.acc_ids[a["ID"]] = v
            if a.get("Name"):
                self.acc[a["Name"]] = self.acc.get(a["Name"], 0.0) + v
        self.tasks: list[dict] = []

    def task_sum(self, key: str, sub: str | None = None) -> float:
        """Sum of a task metric, or of a field of a nested metric group."""
        return sum(_num((t.get(sub) or {}).get(key) if sub else t.get(key)) for t in self.tasks)

    def shuffle_bytes(self) -> float:
        return self.task_sum("Shuffle Bytes Written", "Shuffle Write Metrics")

    def max_over_median(self) -> float:
        d = [t["_duration_ms"] for t in self.tasks]
        med = statistics.median(d) if d else 0.0
        return max(d) / med if med > 0 else 0.0


class Call:
    """The Spark work of one labelled step: its jobs, completed stages
    (with their tasks) and SQL plans."""

    def __init__(self):
        self.stages: dict[int, Stage] = {}
        self.jobs: list[dict] = []
        self.plans: list[dict] = []

    def run_s(self, stages) -> float:
        return sum(s.task_sum("Executor Run Time") for s in stages) / 1000

    def total(self, key: str, sub: str | None = None) -> float:
        return sum(s.task_sum(key, sub) for s in self.stages.values())

    def python_stages(self) -> list[Stage]:
        return [s for s in self.stages.values() if PY_SENT in s.acc]


def digest(events: list[dict]) -> dict[str, Call]:
    """Group the log by job description."""
    calls: dict[str, Call] = {}
    stage_label: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    plans: dict[int, tuple[str, dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get("spark.job.description") or ""
            job = {
                "label": label,
                "start": e["Submission Time"],
                "end": None,
                "stage_names": [s["Stage Name"] for s in e.get("Stage Infos", [])],
            }
            jobs[e["Job ID"]] = job
            calls.setdefault(label, Call()).jobs.append(job)
            for sid in e["Stage IDs"]:
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            t = dict(e.get("Task Metrics") or {})
            info = e["Task Info"]
            t["_duration_ms"] = info["Finish Time"] - info["Launch Time"]
            tasks.setdefault(e["Stage ID"], []).append(t)
        elif kind == "SparkListenerStageCompleted":
            st = Stage(e["Stage Info"])
            label = stage_label.get(st.id, "")
            calls.setdefault(label, Call()).stages[st.id] = st
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plans[e["executionId"]] = (e.get("description") or "", e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            desc = plans.get(e["executionId"], ("", None))[0]
            plans[e["executionId"]] = (desc, e["sparkPlanInfo"])
    for call in calls.values():
        for sid, st in call.stages.items():
            st.tasks = tasks.get(sid, [])
    for desc, plan in plans.values():
        if desc in calls:
            calls[desc].plans.append(plan)
    return calls


def py_init_s(call: Call) -> float:
    return sum(s.acc.get(PY_START, 0.0) + s.acc.get(PY_INIT, 0.0) for s in call.python_stages()) / 1000


def common_metrics(call: Call) -> dict[str, float]:
    return {
        "job.stages": len(call.stages),
        "job.tasks": sum(len(s.tasks) for s in call.stages.values()),
        "scan.input_bytes": call.total("Bytes Read", "Input Metrics"),
    }


def clips_metrics(call: Call) -> dict[str, float]:
    """Salt, scoring, write and counter-rescan figures of one clips job."""
    score = call.python_stages()
    # the salted exchange's map side: the last shuffle-writing stage before
    # scoring (AQE resubmits the map stage under a new id, so the score
    # stage's Parent IDs name a skipped copy, not the stage that ran)
    first = min((s.id for s in score), default=-1)
    before = [s for s in call.stages.values() if s.id < first and s.shuffle_bytes()]
    salt = [max(before, key=lambda s: s.id)] if before else []
    write = [s for s in call.stages.values() if WRITE_MARK in s.acc]
    rescan = [
        j for j in call.jobs
        if j["end"] and any(n.startswith("collect at") and "pipeline.py" in n for n in j["stage_names"])
    ]
    run_ms = sum(s.task_sum("Executor Run Time") for s in score)
    py_run_ms = sum(s.acc.get(PY_RUN, 0.0) for s in score)
    return {
        "salt.shuffle_bytes": sum(s.shuffle_bytes() for s in salt),
        "salt.task_max_over_median": max((s.max_over_median() for s in score), default=0.0),
        "score.stage_s": sum(s.wall_s for s in score),
        "score.python_share": py_run_ms / run_ms if run_ms else 0.0,
        "score.py_bytes_in": sum(s.acc.get(PY_SENT, 0.0) for s in score),
        "score.py_bytes_out": sum(s.acc.get(PY_RECV, 0.0) for s in score),
        "score.py_run_s": py_run_ms / 1000,
        "score.task_cpu_s": sum(s.task_sum("Executor CPU Time") for s in score) / 1e9,
        "score.gc_s": sum(s.task_sum("JVM GC Time") for s in score) / 1000,
        "score.spill_bytes": sum(s.task_sum("Disk Bytes Spilled") for s in score),
        "write.task_s": call.run_s(write),
        "write.output_bytes": call.total("Bytes Written", "Output Metrics"),
        "counters.rescan_s": (
            (max(j["end"] for j in rescan) - min(j["start"] for j in rescan)) / 1000 if rescan else 0.0
        ),
    }


def _join_nodes(plan: dict, under_join: bool = False, out: list | None = None) -> list:
    """(node, nested) for every join in a plan tree; ``nested`` is true
    for a join below another join."""
    out = [] if out is None else out
    is_join = "Join" in plan.get("nodeName", "")
    if is_join:
        out.append((plan, under_join))
    for child in plan.get("children", []):
        _join_nodes(child, under_join or is_join, out)
    return out


def lsh_metrics(call: Call, n_pairs: int) -> dict[str, float]:
    """Features, exchange, candidate and verify figures of one LSH call.

    Candidates are the output rows of the first verify join (the join
    nested under the other): each candidate pair meets exactly one
    shingle array on k1 there."""
    feats = call.python_stages()
    acc = {i: v for s in call.stages.values() for i, v in s.acc_ids.items()}
    join_ids: set[int] = set()
    candidates = 0.0
    for plan in call.plans:
        for node, nested in _join_nodes(plan):
            ids = {m["accumulatorId"]: m["name"] for m in node.get("metrics", [])}
            join_ids |= ids.keys()
            if nested:
                candidates += sum(acc.get(i, 0.0) for i, n in ids.items() if n == ROWS_OUT)
    verify = [s for s in call.stages.values() if join_ids & s.acc_ids.keys()]
    heaviest = max(call.stages.values(), key=lambda s: s.task_sum("Executor Run Time"), default=None)
    return {
        "lsh.features_task_s": call.run_s(feats),
        "lsh.features_stage_runs": len(feats),
        "lsh.exchange_bytes": call.total("Shuffle Bytes Written", "Shuffle Write Metrics"),
        "lsh.candidate_pairs": candidates,
        "lsh.verify_yield": n_pairs / candidates if candidates else 0.0,
        "lsh.verify_task_s": call.run_s(verify),
        "lsh.spill_bytes": call.total("Disk Bytes Spilled"),
        "lsh.max_task_over_median": heaviest.max_over_median() if heaviest else 0.0,
    }


def timed(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def artifacts_load_s() -> float:
    """build_all plus a fresh load of every scoring artifact."""

    def load():
        paths = build_all()
        LangidModel.load(paths["langid"])
        NgramLM.load(paths["lm"])
        LexiconSignals()

    return timed(load, PROBE_REPS)


def scrub_native_s(frame, key: str, text: str) -> float:
    """A no-op write of the salted frame with scrub_pii applied: the JVM
    scrub stage alone, with the scan and salt shuffle it rides on."""
    sc = frame.sparkSession.sparkContext
    salted = salted_repartition(frame, sc.defaultParallelism * 2, key=key)
    out = salted.withColumn("_pii_scrubbed", scrub_pii(F.col(text)))
    runs = iter(range(SCRUB_REPS))

    def write():
        sc.setJobDescription(f"probe-scrub-{next(runs)}")
        out.write.format("noop").mode("overwrite").save()

    return timed(write, SCRUB_REPS)


def kernel_us_per_row(spark, texts: list[str]) -> dict[str, float]:
    """Each fused-UDF kernel called directly on one Arrow-batch-sized
    slice of the workload's own texts, in the UDF's order."""
    batch = texts[:KERNEL_BATCH]
    spark.sparkContext.setJobDescription("probe-kernels")
    pii = (
        spark.createDataFrame(pd.DataFrame({"t": batch}))
        .select(scrub_pii(F.col("t")).alias("p"))
        .toPandas()["p"]
    )
    raw = list(pd.Series(batch).fillna(""))
    paths = build_all()
    langid, lm, lex = LangidModel.load(paths["langid"]), NgramLM.load(paths["lm"]), LexiconSignals()
    min_run = THRESHOLDS["rep_char_run_max"]
    t: dict[str, list[float]] = {k: [] for k in ("normalize", "langid", "lm", "lexicon", "char_stats")}
    for _ in range(KERNEL_REPS):
        c0 = time.perf_counter()
        norm = _normalize_batch(pii)
        c1 = time.perf_counter()
        langid.score_batch(norm)
        c2 = time.perf_counter()
        _, _, _, stream = lm.ppl_stats_batch(norm, return_stream=True)
        c3 = time.perf_counter()
        lex.score_stream(len(norm), *stream)
        c4 = time.perf_counter()
        char_stats_batch(raw, min_run)
        c5 = time.perf_counter()
        for k, dt in zip(t, np.diff([c0, c1, c2, c3, c4, c5]), strict=True):
            t[k].append(dt)
    return {f"kernel.{k}_us_per_row": statistics.median(v) / len(batch) * 1e6 for k, v in t.items()}
