"""The flagship quality-filter pipeline (SURVEY.md §3.4, M1/M5/M7).

Plan shape (deliberate — see §4 of SURVEY.md):

    scan (partition-pruned to pending parts, column-pruned: never 'bytes')
      → hash repartition on the unique clip_id   [the ONLY wide stage]
      → native projection: PII scrub — the single JVM string rebuild
                                                  [WholeStageCodegen]
      → ONE fused ArrowEvalPython stage: normalization + langid +
        perplexity + token metrics + caps/char-run stats + profanity/
        taxonomy lexicon signals, all reading one code-point buffer
        per batch                                 [one Arrow boundary]
      → fused native projection: scrub output + labels + keep/drop
        when-chain                                [narrow]
      → partitioned write + per-part atomic commit + ledger

The scoring stage runs one task per core: each Python task pays a fixed
cost outside the UDF (see ``run_clips_pipeline``), so more tasks than
cores only add it. Counters are computed by re-reading the (small,
bytes-free) staged output rather than caching the scored frame — at
10^12 rows a cache is impossible, a cheap re-scan isn't.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts_build import build_all
from ..functions.scrub import scrub_edit_count, scrub_pii, scrub_profanity
from ..lexicons import THRESHOLDS
from ..operators import taxonomy
from ..operators.rules import drop_reason, keep_from_reason
from ..sources.clips import list_parts, part_fingerprint, prune_to_parts, read_clips
from ..sources.ledger import Ledger, LedgerEntry

OUTPUT_COLS = [
    "clip_id",
    "keep",
    "label_a",
    "label_b",
    "label_c",
    "scrubbed_transcript",
    "drop_reason",
    "scrub_edits",
    "scores",
    "part_id",
]

#: the staged output columns the counter rescan aggregates
_COUNTER_SCHEMA = "keep boolean, drop_reason string, scrub_edits int, part_id int"


def salted_repartition(df: DataFrame, num_partitions: int, key: str = "clip_id") -> DataFrame:
    """X1 — spread rows evenly over ``num_partitions`` by hash-partitioning
    on the unique key itself, whatever the input split sizes or the
    transcript lengths. AQE handles skewed JOINs; this equalizes the
    scoring stage's rows per task, which AQE does not (SURVEY.md §4.3).

    On 50k unique keys into 8 partitions the largest partition holds
    1.02x the mean rows. The former salt (``pmod(xxhash64(key), 4n)``,
    shuffled on the salt) hashed its 4n values a second time into n
    partitions, so each partition drew 2 to 8 salts: 2.02x the mean.
    The name is kept for the callers that import it."""
    return df.repartition(num_partitions, F.col(key))


def score_transcripts(
    df: DataFrame,
    text_col: str = "transcript",
    artifacts: dict[str, str] | None = None,
    dur_ms_col: str | None = None,
    th: dict | None = None,
) -> DataFrame:
    """Attach the full decision surface to any table with a text column.

    Works on the clips table and on the ``documents`` stand-in alike.
    Everything except langid/ppl is a native Column expression.
    """
    t = th or THRESHOLDS
    artifacts = artifacts or build_all()
    raw = F.col(text_col)

    # -- native projection #1: ONE pass of the PII chain (case-insensitive,
    # on the raw text), reused by both the case-preserving output scrub and
    # (inside the UDF) the lowercased scoring text. This is the ONLY string
    # rebuild left in the JVM stage: lowercasing, ws-collapse and the char
    # stats moved into the Arrow stage (scoring.py module docstring — at
    # 8+ cores the JVM stage is memory-bandwidth-bound and each extra
    # JVM pass re-streams every row's bytes; measured ~66µs/row/core).
    df = df.withColumn("_pii_scrubbed", scrub_pii(raw))

    # -- single ArrowEvalPython stage: normalization + langid + ppl + token
    # metrics + char stats + lexicon signals folded into ONE iterator UDF
    # (iter-type UDFs can't be fused by Catalyst, so separate UDFs would
    # mean separate Arrow round-trips — see scoring.py). Token counts, the
    # repeat ratio, profanity hits and the taxonomy targeting signals all
    # ride the token stream the LM hashes anyway; caps/run stats share one
    # utf-32 decode of the raw column.
    from ..operators.scoring import (
        SIG_AT_USER,
        SIG_ENTITY,
        SIG_GROUP,
        SIG_SECOND_PERSON,
        combined_scores_udf,
    )

    df = df.withColumn(
        "pyscores",
        combined_scores_udf(
            artifacts["langid"], artifacts["lm"], min_run=t["rep_char_run_max"]
        )(raw, F.col("_pii_scrubbed")),
    ).withColumns(
        {
            "langid_lang": F.col("pyscores.lang"),
            "langid_conf": F.col("pyscores.conf"),
            "ppl": F.col("pyscores.ppl"),
            "n_tokens": F.col("pyscores.n_tokens"),
            "rep_tok_ratio": F.col("pyscores.rep_tok_ratio"),
            "profanity_hits": F.col("pyscores.prof_hits"),
            "caps_ratio": F.col("pyscores.caps_ratio"),
            "rep_char_run": F.col("pyscores.rep_char_run"),
            "rep_char_ratio": F.col("pyscores.rep_char_ratio"),
            # NULL transcript ≡ empty (the fused UDF's documented coercion,
            # operators/scoring.py _normalize_batch): a bare length(NULL)
            # would NULL-out the length gate and let the row fall through
            # to langid — coalescing to 0 keeps the decision path coherent
            "n_chars": F.coalesce(F.length(raw), F.lit(0)),
        }
    )

    # the emitted scrub preserves the raw casing/spacing so clean kept rows
    # satisfy scrubbed == transcript (BASELINE.json:15); PII already masked,
    # only profanity left — guarded by the hit count so clean rows skip the
    # 50-word alternation rebuild, and edit counting only runs on rows the
    # scrub actually changed
    df = df.withColumn(
        "scrubbed_transcript",
        F.when(
            F.col("profanity_hits") > 0, scrub_profanity(F.col("_pii_scrubbed"))
        ).otherwise(F.col("_pii_scrubbed")),
    ).withColumn(
        "scrub_edits",
        F.when(
            F.col("scrubbed_transcript") != raw,
            scrub_edit_count(F.col("scrubbed_transcript")),
        ).otherwise(F.lit(0)),
    )

    # -- decision: taxonomy + gates -----------------------------------------
    # all four signals come from the UDF bitmask (incl. the @user substring
    # as SIG_AT_USER) — no JVM text scan runs in the decision stage at all
    sig = F.col("pyscores.sig")
    df = taxonomy.with_labels(
        df,
        profane=F.col("profanity_hits") > 0,
        second_person=sig.bitwiseAND(F.lit(SIG_SECOND_PERSON | SIG_AT_USER)) > 0,
        group=sig.bitwiseAND(F.lit(SIG_GROUP)) > 0,
        entity=sig.bitwiseAND(F.lit(SIG_ENTITY)) > 0,
    )
    reason = drop_reason(
        langid_lang=F.col("langid_lang"),
        ppl=F.col("ppl"),
        n_chars=F.col("n_chars"),
        rep_char_run=F.col("rep_char_run"),
        rep_tok_ratio=F.col("rep_tok_ratio"),
        caps_ratio=F.col("caps_ratio"),
        profanity_hits=F.col("profanity_hits"),
        n_tokens=F.col("n_tokens"),
        dur_ms=F.col(dur_ms_col) if dur_ms_col else None,
        th=t,
    )
    df = df.withColumn("drop_reason", reason).withColumn(
        "keep", keep_from_reason(F.col("drop_reason"))
    )
    return df.withColumn(
        "scores",
        F.struct(
            F.col("langid_lang"),
            F.col("langid_conf"),
            F.col("ppl"),
            F.col("caps_ratio"),
            F.col("rep_char_ratio"),
            F.col("rep_tok_ratio"),
        ),
    )


def run_clips_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    ledger_dir: str,
    artifact_dir: str | None = None,
    num_partitions: int | None = None,
    sink: str = "hive",
) -> dict:
    """Resume-aware batch job (SURVEY.md §4.4): process only pending
    partitions, commit each atomically, append ledger rows last.

    ``sink``: ``hive`` (default) commits each partition by atomic
    directory rename into ``out_path``; ``snapshots`` commits ALL
    pending partitions as ONE snapshot of a SnapshotStore at
    ``out_path`` (sources/snapshots.py — the Iceberg-shaped table:
    dynamic partition overwrite, journal meta records the processed
    parts, readers get time travel across job runs). A crash between
    the snapshot commit and the ledger commit makes the rerun
    re-overwrite the same partitions — idempotent by the store's
    overwrite semantics, with the orphaned snapshot vacuumable."""
    if sink not in ("hive", "snapshots"):
        raise ValueError(f"unknown sink {sink!r} (expected 'hive' or 'snapshots')")
    artifacts = build_all(artifact_dir)
    all_parts = list_parts(in_path)
    fps = {p: part_fingerprint(in_path, p) for p in all_parts}
    ledger = Ledger(ledger_dir)
    pending = ledger.pending(all_parts, fps)
    if not pending:
        return {"processed_parts": 0, "skipped_parts": len(all_parts), **ledger.totals()}

    t0 = time.monotonic()
    # one scoring task per core: besides the UDF, each Python task costs
    # 0.1-0.15 core-s of fixed worker work on a 4-core box (PySpark's
    # per-task importlib.invalidate_caches() rescans pyspark.zip once per
    # zipimporter, plus task set-up and teardown), so more tasks than
    # cores only add that cost once the rows per task are even
    n_shuffle = num_partitions or spark.sparkContext.defaultParallelism
    clips = prune_to_parts(read_clips(spark, in_path), pending)
    # column pruning: the scoring path never touches 'bytes'
    clips = clips.select("clip_id", "dur_ms", "transcript", "part_id")
    clips = salted_repartition(clips, n_shuffle)
    scored = score_transcripts(clips, "transcript", artifacts, dur_ms_col="dur_ms")

    staging = out_path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    # cluster output rows by part_id before the dynamic-partition write:
    # without this every scoring task writes a file into every part dir
    # (tasks × parts files — a small-files disaster at cluster scale);
    # with it each part is written by one task → one file per part.
    # Scoring still runs in the clip_id stage, upstream of this exchange.
    (
        scored.select(*OUTPUT_COLS)
        .repartition("part_id")
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(staging)
    )

    # counters from the staged (bytes-free, columnar) output — cheap
    # re-scan of the four columns they need, with their schema given
    stats = {
        r["part_id"]: r
        for r in spark.read.schema(_COUNTER_SCHEMA)
        .parquet(staging)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum((F.col("drop_reason") == "langid").cast("long")).alias("n_langid_reject"),
            F.sum((F.col("drop_reason") == "perplexity").cast("long")).alias("n_ppl_drop"),
            F.sum(
                F.col("drop_reason").isin("length", "repetition", "caps").cast("long")
            ).alias("n_rule_drop"),
            F.sum((F.col("drop_reason") == "toxicity").cast("long")).alias("n_toxicity_drop"),
            F.sum(F.when(F.col("keep"), F.col("scrub_edits")).otherwise(0)).alias(
                "n_scrub_edits"
            ),
        )
        .collect()
    }

    wall_ms = int((time.monotonic() - t0) * 1000)
    if sink == "snapshots":
        from ..sources.snapshots import SnapshotStore

        store = SnapshotStore(out_path, "part_id")
        store.overwrite_partitions(
            spark.read.option("basePath", staging).parquet(staging),
            meta={"job": "clips_pipeline", "parts": sorted(pending)},
        )
    else:
        os.makedirs(out_path, exist_ok=True)
    for p in pending:
        if sink == "hive":
            src = os.path.join(staging, f"part_id={p}")
            dst = os.path.join(out_path, f"part_id={p}")
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(src, dst)  # atomic per-partition commit
        r = stats.get(p)
        ledger.commit(
            LedgerEntry(
                part_id=p,
                status="done",
                fingerprint=fps[p],
                n_in=r["n_in"] if r else 0,
                n_keep=r["n_keep"] if r else 0,
                n_langid_reject=r["n_langid_reject"] if r else 0,
                n_ppl_drop=r["n_ppl_drop"] if r else 0,
                n_rule_drop=r["n_rule_drop"] if r else 0,
                n_toxicity_drop=r["n_toxicity_drop"] if r else 0,
                n_scrub_edits=r["n_scrub_edits"] if r else 0,
                job_wall_ms=wall_ms,
            )
        )
    shutil.rmtree(staging, ignore_errors=True)
    return {
        "processed_parts": len(pending),
        "skipped_parts": len(all_parts) - len(pending),
        "wall_ms": wall_ms,
        **ledger.totals(),
    }


def audit_audio(
    spark: SparkSession,
    in_path: str,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> dict:
    """M6 sampled audio audit — the only path that reads ``bytes``.

    Kept separate from the text pipeline on purpose: column pruning keeps
    the (huge) binary column out of the scoring scan (SURVEY.md §4.2);
    this pass samples rows, decodes with the engine's numpy codecs, and
    reports decode health. Returns counters for the ops report."""
    from ..operators.audio import with_audio_stats

    clips = read_clips(spark, in_path).select("clip_id", "bytes", "codec", "sr_hz")
    sampled = clips.sample(fraction=sample_fraction, seed=seed)
    stats = with_audio_stats(sampled).select("clip_id", "audio.*")
    agg = stats.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("ok").cast("long")).alias("n_ok"),
        F.round(F.avg("rms"), 6).alias("mean_rms"),
    ).collect()[0]
    return {
        "n_sampled": agg["n_sampled"],
        "n_ok": agg["n_ok"],
        "n_decode_failures": agg["n_sampled"] - agg["n_ok"],
        "mean_rms": agg["mean_rms"],
    }
