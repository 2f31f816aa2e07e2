"""Per-query isolation bench (guide §1.4) — r7 optimization harness.

Times any subset of the headline queries under the SAME conditions as the
frozen bench.py (same session factory, same warmup, noop sink, median of
3 consecutive runs, epoch-load probe between queries) without paying for
the scaling-subprocess portion, and optionally dumps
``.explain("formatted")`` for each query to plans/<tag>/<query>_<suffix>.txt.

bench.py itself is FROZEN for measurement (the driver times the round
with the round-start copy); every number this file produces is
cross-checked against a full bench.py run before being claimed in
OPTIMIZATION_r07.md.

Usage:
    python bench_extra.py [--sf DIR] [--queries a,b,c] [--runs 3]
                          [--explain-dir plans/r07] [--suffix before]
                          [--fresh-session-per-query]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE, _median  # noqa: E402  (bench.py import is side-effect free)


def build_warm_session(cpus: str, sf_dir: str):
    from multi_task_offensive_language_detection_spark import checks
    from multi_task_offensive_language_detection_spark.artifacts_build import build_all
    from multi_task_offensive_language_detection_spark.session import build_session

    build_all()
    spark = build_session(app_name="mtold-bench-extra", master=f"local[{cpus}]")
    # identical warmup to bench.py: flagship at sf0.001 (spins up Python
    # workers + broadcasts artifacts), then real column scans of every
    # headline input so the page cache is warm
    spark.sparkContext.setJobDescription("warmup: flagship sf0.001")
    checks.QUERIES["pipeline_documents"](spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()
    spark.sparkContext.setJobDescription("warmup: page cache")
    for pq_path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(pq_path).write.mode("overwrite").format("noop").save()
    spark.sparkContext.setJobDescription(None)
    return spark


def probe_once(spark, cpus: str) -> float:
    t0 = time.monotonic()
    spark.range(0, 400_000_000, 1, int(cpus)).selectExpr("sum(id % 7919) as s").collect()
    return round(time.monotonic() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--fresh-session-per-query",
        action="store_true",
        help="restart the JVM before each query (driver-cold codegen)",
    )
    args = ap.parse_args()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = [n for n in args.queries.split(",") if n]

    from multi_task_offensive_language_detection_spark import checks

    spark = build_warm_session(cpus, args.sf)
    qtimes: dict[str, float] = {}
    qruns: dict[str, list[float]] = {}
    probe_runs: list[float] = [probe_once(spark, cpus)]
    for name in names:
        if args.fresh_session_per_query:
            spark.stop()
            spark = build_warm_session(cpus, args.sf)
        fn = checks.QUERIES[name]
        if args.explain_dir:
            import io
            from contextlib import redirect_stdout

            os.makedirs(args.explain_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.monotonic()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            runs.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        qruns[name] = runs
        qtimes[name] = round(_median(runs), 3)
        probe_runs.append(probe_once(spark, cpus))
    spark.stop()
    out = {
        "metric": "headline_queries_subset",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": qtimes,
        "queries_runs": qruns,
        "probe_runs": probe_runs,
        "probe_s": round(_median(probe_runs), 3),
        "sf": args.sf,
    }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
