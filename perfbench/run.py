"""mtold-spark benchmark: seeded workloads through the package's public
entry points at ``local[nproc]``, every output checked.

    python3 perfbench/run.py --workload clips_filter --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all            # the three workloads in turn

One run: generate (or reuse) the seeded inputs, then set up once from a
cold JVM (``build_session`` + ``build_all`` + one job on a small slice,
timed as ``setup_s``), make the workload's untimed full-size warm-up
calls, then repeat the timed call closed-loop (one client, one call in
flight) until ``--seconds`` of calls, and at least three, are measured.
Each call's output is checked outside the timed region; a call that
raises or fails its check counts in ``failed``. The last stdout line is one JSON object; the lines before
it are the same figures for people.

``--trace 1`` first makes an untraced run of the same workload and seed
in a child process, then repeats the run with Spark's event log on and
reports the per-layer metrics (see tracing.py) and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "multi_task_offensive_language_detection_spark"
WORK = os.path.join(ROOT, "perfbench", ".work")
WORKLOADS = ("clips_filter", "clips_resume", "neardup_lsh")

#: clips table rows (16 parts) and documents scale (multiple of sf0.1)
CLIPS_ROWS = 100_000
DOCS_MULT = 3
#: local-mode JVM heap: the package default (16g) is above the 15 GB of
#: RAM of the 4-core machine this was tuned on, and at 4g the heap grew
#: differently from run to run, which moved peak RSS by up to 2x
JVM_HEAP = "2g"
MIN_TIMED_CALLS = 3
#: a run whose calls keep failing stops after this many failures
MAX_FAILURES = 3
#: stop starting timed calls this long after process start, whatever
#: --seconds says, so one run always ends well inside three minutes
CALL_DEADLINE_S = 90.0
RSS_PERIOD_S = 0.1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env() -> int:
    """Fit Spark to this machine; returns the core count. Must run
    before the JVM starts: the JVM and its Python workers inherit it."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
            # Python workers import the package and tests.fixtures by name
            "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    return nproc


def session_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for e in os.scandir("/proc"):
        if not e.name.isdigit():
            continue
        try:
            with open(f"/proc/{e.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(e.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants: the JVM and the
    Python workers it forks. ``take`` returns the peak since the last
    call, so each timed call gets its own peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def take(self) -> int:
        with self._lock:
            peak, self.peak = max(self.peak, self.sample()), 0
        return peak

    def sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self):
        while not self._stop_evt.is_set():
            rss = self.sample()
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self):
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Phases:
    """Wall time of each phase of a run, reported on stderr."""

    def __init__(self, name: str):
        self.name, self.t, self.done = name, time.monotonic(), []

    def mark(self, phase: str) -> None:
        now = time.monotonic()
        self.done.append(f"{phase} {now - self.t:.1f} s")
        self.t = now

    def report(self) -> None:
        print(f"[perfbench] {self.name}: " + ", ".join(self.done), file=sys.stderr)


def make_workload(name: str, seed: int, run_dir: str):
    from perfbench import inputs
    from perfbench.workloads import ClipsFilter, ClipsResume, NeardupLsh

    data_root = os.path.join(WORK, "inputs")
    os.makedirs(data_root, exist_ok=True)
    if name == "neardup_lsh":
        return NeardupLsh(run_dir, inputs.docs(data_root, seed, DOCS_MULT), seed)
    cls = ClipsFilter if name == "clips_filter" else ClipsResume
    return cls(run_dir, inputs.clips(data_root, seed, CLIPS_ROWS), seed)


def measure(name: str, seed: int, seconds: float, traced: bool, t_start: float) -> dict:
    """One run; returns the raw figures (and the per-layer ones if traced)."""
    from multi_task_offensive_language_detection_spark.artifacts_build import build_all
    from multi_task_offensive_language_detection_spark.session import build_session
    from perfbench import tracing

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-t{int(traced)}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    phases = Phases(name)
    wl = make_workload(name, seed, run_dir)
    # the first run in a checkout trains the artifacts: a build, not set-up
    build_all()
    phases.mark("inputs")
    conf = session_conf(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    if traced:
        conf.update(tracing.event_log_conf(log_dir))

    t0 = time.monotonic()
    spark = build_session(master=f"local[{nproc}]", extra_conf=conf)
    session_s = time.monotonic() - t0
    sc = spark.sparkContext
    res = {"attempted": 0, "failed": 0, "times": [], "rss": [], "layers": {}, "after": []}
    sampler = RssSampler()
    try:
        build_all()
        wl.spark = spark
        sc.setJobDescription("setup")
        wl.warmup()
        res["setup_s"] = time.monotonic() - t0

        def attempt(label: str, body) -> float | None:
            res["attempted"] += 1
            sc.setJobDescription(label)
            try:
                return body()
            except Exception:
                res["failed"] += 1
                print(f"[perfbench] {name} {label} failed:", file=sys.stderr)
                traceback.print_exc()
                return None

        def checked_call(i: int) -> float:
            wl.prepare(i)
            t = time.perf_counter()
            out = wl.call(i)
            dt = time.perf_counter() - t
            wl.check(i, out)
            return dt

        phases.mark("setup")
        attempt("prime", wl.prime)
        for w in range(wl.warm_calls):
            attempt(f"warm-{w}", lambda w=w: checked_call(-2 - w))
        phases.mark("prime")
        sampler.start()
        i = 0
        while res["failed"] < MAX_FAILURES and time.monotonic() - t_start < CALL_DEADLINE_S and (
            len(res["times"]) < MIN_TIMED_CALLS or sum(res["times"]) < seconds
        ):
            sampler.take()
            dt = attempt(f"job-{i}", lambda i=i: checked_call(i))
            if dt is not None:
                res["times"].append(dt)
                res["rss"].append(sampler.take())
                if traced:
                    res["after"].append((i, wl.after_call(i)))
            i += 1
        sampler.stop()
        phases.mark(f"{len(res['times'])} timed calls")
        res["rows"] = wl.rows
        res["note"] = wl.note()
        if traced:
            res["layers"] = {
                "session.start_s": session_s,
                "artifacts.load_s": tracing.artifacts_load_s(),
                "scrub.native_s": tracing.scrub_native_s(*wl.scan_frame()),
                **tracing.kernel_us_per_row(spark, wl.texts_for_kernels()),
                **wl.layer_probes(),
            }
            res["n_pairs"] = getattr(wl, "n_pairs", 0)
    finally:
        if sampler.is_alive():
            sampler.stop()
        phases.mark("probes" if traced else "rest")
        stop_spark(spark)
        phases.mark("stop")
    if traced:
        res["calls"] = tracing.digest(tracing.read_event_log(log_dir))
        phases.mark("event log")
    phases.report()
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def layer_metrics(name: str, res: dict, untraced_job_s: float) -> dict[str, float]:
    """Every per-layer metric, each a median over the timed calls."""
    from perfbench import tracing

    calls = res["calls"]
    per_call = []
    for i, extra in res["after"]:
        call = calls.get(f"job-{i}")
        if call is None:
            continue
        m = {**tracing.common_metrics(call), **extra}
        if name == "neardup_lsh":
            m.update(tracing.lsh_metrics(call, res["n_pairs"]))
        else:
            m.update(tracing.clips_metrics(call))
        per_call.append(m)
    out = dict.fromkeys(tracing.LAYERS, 0.0)
    for k in set().union(*per_call):
        out[k] = statistics.median(m.get(k, 0.0) for m in per_call)
    out.update(res["layers"])
    out["score.py_init_s"] = tracing.py_init_s(calls.get("setup", tracing.Call()))
    out["trace.overhead_s"] = statistics.median(res["times"]) - untraced_job_s
    return out


def end_to_end(res: dict) -> dict[str, float]:
    job_s = statistics.median(res["times"])
    return {
        "job_s": job_s,
        "rows_per_s": res["rows"] / job_s,
        "setup_s": res["setup_s"],
        "peak_rss_mb": statistics.median(res["rss"]) / 2**20,
    }


def emit(name: str, spec_metrics: list[dict], values: dict, res: dict, notes: dict) -> dict:
    units = {m["name"]: m["unit"] for m in spec_metrics}
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
    attempted, failed = res["attempted"], res["failed"]
    print(f"== {name}: {attempted} calls, {failed} failed, error_rate {failed / attempted:.4f}")
    for k in units:
        extra = notes.get(k, "")
        print(f"  {k:<30} {values[k]:>16.6g} {units[k]:<8} {extra}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def child_run(name: str, seed: int, seconds: float, trace: int) -> dict | None:
    """Run one workload in a fresh process; echo its table, return its result."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    child = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
    lines = child.stdout.strip().splitlines()
    if child.returncode != 0 or not lines:
        print(f"[perfbench] {name} run failed", file=sys.stderr)
        return None
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    return json.loads(lines[-1])


def run_one(args, spec: dict) -> int:
    t_start = time.monotonic()
    seconds = spec["run_seconds"] if args.seconds is None else args.seconds
    untraced = None
    if args.trace:
        untraced = child_run(args.workload, args.seed, seconds, trace=0)
        if untraced is None:
            return 1
        t_start = time.monotonic()
    res = measure(args.workload, args.seed, seconds, bool(args.trace), t_start)
    if not res["times"]:
        print(f"[perfbench] {args.workload}: no timed call succeeded", file=sys.stderr)
        return 1
    times = ", ".join(f"{t:.3f}" for t in res["times"])
    if args.trace:
        from perfbench.tracing import LAYERS

        base = untraced["metrics"]["job_s"]["value"]
        values = layer_metrics(args.workload, res, base)
        notes = {k: f"{layer} -> {moves}" for k, (layer, moves) in LAYERS.items()}
        notes["trace.overhead_s"] = f"traced job_s {statistics.median(res['times']):.4f} - untraced {base:.4f}"
        res["attempted"] += untraced["attempted"]
        res["failed"] += untraced["failed"]
        metrics = emit(f"{args.workload} (traced)", spec["per_layer"], values, res, notes)
    else:
        notes = {"job_s": f"median of {len(res['times'])}: {times}", "rows_per_s": res["note"]}
        metrics = emit(args.workload, spec["end_to_end"], end_to_end(res), res, notes)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def run_all(args, spec: dict) -> int:
    """Each workload in its own process, one after another."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    seconds = spec["run_seconds"] if args.seconds is None else args.seconds
    for name in WORKLOADS:
        r = child_run(name, args.seed, seconds, args.trace)
        if r is None:
            return 1
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{name}/{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    needed = [PKG, os.path.join("tests", "fixtures", "clips_gen.py"), "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"[perfbench] {ROOT} is not a repository checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    configure_env()
    spec = load_spec()
    if args.workload == "all":
        return run_all(args, spec)
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
