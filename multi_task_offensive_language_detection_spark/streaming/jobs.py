"""Streaming operators (SURVEY.md T1-T5).

Batch/stream parity is the design rule: every transformation here is a
plain DataFrame function applied to either a batch frame or a
``readStream`` frame — tests run both and compare (the batch run is the
oracle, since watermarks are a no-op in batch mode).

Incremental clip ingest (T1) uses the file source with
``trigger(availableNow=True)`` + checkpointLocation: each invocation
drains whatever new partitions landed and stops — the streaming
counterpart of the batch ledger (which remains the primary resume
mechanism, SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tumbling_counts(df: DataFrame, window: str = "10 minutes") -> DataFrame:
    """T2 — event counts per (tumbling window, event_type)."""
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3 — per-user session windows (gap-based)."""
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_s"),
            F.unix_timestamp("w.end").alias("session_end_s"),
            "n_events",
            "sum_value",
        )
    )


def with_watermark_tumbling(df: DataFrame, delay: str = "1 hour", window: str = "10 minutes") -> DataFrame:
    """T4 — watermarked tumbling agg (streaming drops late rows; in batch
    the watermark is ignored, which is why the oracle check is rows-only)."""
    return tumbling_counts(df.withWatermark("ts", delay), window)


def stream_dedup(df: DataFrame, keys: list[str], delay: str = "1 hour") -> DataFrame:
    """T5 — stateful streaming dedup within the watermark horizon."""
    return df.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "10 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """T7 — stream-stream inner join on a key plus a time-INTERVAL
    condition: each left event pairs with the right events of the same
    key that occur in [left.ts, left.ts + within]. Both sides carry a
    watermark and the join condition bounds event-time distance, which
    is what lets Spark EXPIRE buffered state (an unbounded-time
    stream-stream join would hold both streams forever — the watermark
    plus the interval is the state-retention contract, and the reason
    this shape is 100 TB-safe where an unconstrained one is not).

    Batch/stream parity: in a replay with no late data the streaming
    result equals the identical batch join (the pytest oracle)."""
    l = left.withWatermark("ts", delay).alias("l")
    r = right.withWatermark("ts", delay).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + interval {within}"
        ),
        "inner",
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
        F.unix_timestamp("l.ts").alias("left_ts_s"),
        F.unix_timestamp("r.ts").alias("right_ts_s"),
    )


def stateful_session_stats(
    df: DataFrame, gap_minutes: int = 30, watermark_delay: str = "0 seconds"
) -> DataFrame:
    """T6 — CUSTOM stateful sessionization via ``applyInPandasWithState``.

    ``session_window`` (T3) covers plain gap-sessions natively; this is
    the surface for session logic the built-ins can't express —
    arbitrary Python state transitions per key with event-time timeout
    emission. State per user = (n, sum, min_ts, max_ts); when the
    watermark passes ``last_event + gap`` the session CLOSES and emits
    one summary row, then the state is freed (bounded state: one small
    tuple per open session, exactly the GroupState pattern a custom
    quality/velocity gate needs at clip-stream scale)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, sum_value double, "
        "session_start_s long, session_end_s long"
    )
    state_schema = "n long, s double, mn long, mx long"
    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, s, mn, mx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "session_start_s": [mn],
                    "session_end_s": [mx],
                }
            )
            return
        n, s, mn, mx = state.get if state.exists else (0, 0.0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            epoch_s = pdf["ts"].astype("int64") // 1_000_000_000
            n += len(pdf)
            s += float(pdf["value"].sum())
            lo, hi = int(epoch_s.min()), int(epoch_s.max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        state.update((n, s, mn, mx))
        # close the session once the event-time watermark passes the gap
        state.setTimeoutTimestamp(mx * 1000 + gap_ms)

    return (
        df.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def run_available_now(out_df: DataFrame, checkpoint: str, out_path: str):
    """T1 — drain-what's-there incremental run; returns the query after
    awaiting termination (parquet sink, exactly-once per checkpoint)."""
    q = (
        out_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_filter_clips(
    spark: SparkSession,
    in_dir: str,
    out_path: str,
    checkpoint: str,
    artifact_dir: str | None = None,
):
    """T1 full form: incremental quality-filtering of newly-landed clip
    files. foreachBatch applies the SAME batch scoring plan per
    micro-batch (batch/stream parity by construction); availableNow
    drains what's there and stops, so cron-style invocation == the batch
    ledger loop with Spark-managed exactly-once file tracking."""
    from ..artifacts_build import build_all
    from ..plans.pipeline import OUTPUT_COLS, score_transcripts
    from ..schema import CLIPS_SCHEMA

    artifacts = build_all(artifact_dir)
    src = spark.readStream.schema(CLIPS_SCHEMA).parquet(in_dir)

    def process(batch_df, batch_id):
        scored = score_transcripts(
            batch_df.select("clip_id", "dur_ms", "transcript", "part_id"),
            "transcript",
            artifacts,
            dur_ms_col="dur_ms",
        )
        scored.select(*OUTPUT_COLS).write.mode("append").parquet(out_path)

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_append_to_snapshots(store, query_name: str):
    """Exactly-once streaming sink into the snapshot store (T1 upgraded
    from plain parquet-append): each micro-batch commits ONE snapshot
    whose journal meta records (query_name, batch_id). foreachBatch is
    at-least-once — after a crash between sink write and checkpoint
    commit, Spark REPLAYS the batch — so the sink consults the journal
    and skips batch ids it already committed: the idempotent-sink half
    of the exactly-once contract, keyed exactly the way Delta/Iceberg
    streaming sinks key their txn ids. Scope: one checkpoint lineage
    per query_name (a fresh checkpoint restarts batch ids at 0; reusing
    the query_name then MASKS the replay — use a new name or table).

    Returns the ``foreachBatch`` callback; ``run_stream_to_snapshots``
    wires it to a stream and runs it to availableNow termination."""

    def process(batch_df, batch_id):
        done = {
            s["meta"]["batch_id"]
            for s in store.snapshots()
            if s.get("meta", {}).get("query") == query_name
        }
        if batch_id in done:
            return  # replayed batch: already in the table, skip
        store.append(batch_df, meta={"query": query_name, "batch_id": batch_id})

    return process


def run_stream_to_snapshots(src: DataFrame, store, query_name: str, checkpoint: str):
    """Drive stream_append_to_snapshots with availableNow."""
    q = (
        src.writeStream.foreachBatch(stream_append_to_snapshots(store, query_name))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
