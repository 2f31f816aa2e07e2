"""Materialize the fused scoring UDF's model columns as a pinned oracle
side table (VERDICT r3 #5).

The flagship decision has two gate families: deterministic rules that a
DuckDB oracle can recompute from scratch (length / token-repetition /
caps / toxicity — covered hash-green by `pipeline_documents_rules`) and
the model gates (langid, perplexity) plus the backref char-run flag,
which are engine kernels no ANSI SQL reproduces. This tool runs the
PRODUCTION pipeline once per testdata scale factor and pins those
kernel outputs — (lang, conf, ppl, rep_char_run) per doc_id — into one
committed parquet, keyed by (corpus_sig, doc_id) — corpus_sig =
sum(doc_id * n_chars) over the documents table, an arithmetic content
fingerprint both engines compute exactly — so a single static oracle
SQL string picks the right scale factor's slice at runtime via
`WHERE corpus_sig = (SELECT sum(doc_id * n_chars) FROM documents)`.

The `pipeline_documents_full` check then oracles the COMPLETE
first-failing-gate decision: the SQL recomputes every deterministic
gate independently AND reads the pinned kernel columns for the rest,
so gate priority, threshold application, and keep/drop logic are
verified end-to-end (the kernel VALUES themselves are pinned, not
re-derived — their correctness is covered by the langid/ppl property
tests and goldens; tests/test_golden_decisions.py guards the fixture
against silent kernel drift and says when to regenerate).

Deterministic: kernels are pure per row given the artifact tables (a
row scores the same whatever rows share its Arrow batch), and the tables
are themselves deterministic given ARTIFACT_VERSION (artifacts_build.py).
Regenerate after ANY artifact/kernel change:

    python tools/build_flagship_fixture.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "tests", "fixtures", "data", "flagship_scores.parquet")
SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def build(spark=None, sf_dirs=None, out: str = OUT) -> str:
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.artifacts_build import build_all
    from multi_task_offensive_language_detection_spark.plans.pipeline import (
        score_transcripts,
    )
    from multi_task_offensive_language_detection_spark.session import build_session

    own = spark is None
    if own:
        spark = build_session(app_name="flagship-fixture", master="local[8]")
    arts = build_all()
    parts = []
    for sf in sf_dirs or SF_DIRS:
        d = spark.read.parquet(os.path.join(sf, "documents.parquet")).withColumnRenamed(
            "text", "transcript"
        )
        # content key, not count: sf0.001 and sf0.01 both hold 500 docs
        # with different text, so the oracle discriminates scale factors
        # by an arithmetic corpus signature both engines compute exactly
        sig = int(
            d.agg(F.sum(F.col("doc_id") * F.col("n_chars"))).collect()[0][0]
        )
        scored = score_transcripts(d, "transcript", arts)
        parts.append(
            scored.select(
                F.lit(sig).alias("corpus_sig"),
                "doc_id",
                F.col("scores.langid_lang").alias("lang"),
                F.col("scores.langid_conf").alias("conf"),
                F.col("scores.ppl").alias("ppl"),
                "rep_char_run",
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    pdf = allp.toPandas().sort_values(["corpus_sig", "doc_id"]).reset_index(drop=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pdf.to_parquet(out, index=False)
    if own:
        spark.stop()
    print(f"wrote {out}: {len(pdf)} rows")
    return out


if __name__ == "__main__":
    build()
