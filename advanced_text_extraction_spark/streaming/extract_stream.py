"""Structured Streaming tier: the batch extraction kernels, unchanged,
over a transcript stream.

The reference is strictly batch (SURVEY §2.12) and the north rule asks
for batch-with-checkpoint-resume — that job lives in plans/pipeline.py.
This module is the forward path for continuously-arriving transcripts:
``readStream`` → the SAME ``operators.extract.extract()`` mapInArrow
dispatch, called directly on the stream (kernels are stream/batch
agnostic) → ``writeStream`` with a checkpoint, so exactly-once
sink semantics replace the lineage table. Windowed reporting uses
watermarks to bound state for late turns.

Scale notes:
- mapInArrow on a streaming DataFrame keeps the identical Arrow batch
  shape as batch mode — no kernel changes, one code path to test.
- the per-conversation order-restore window is NOT applied in-stream
  (a global sort over an unbounded stream is undefined); order is a
  read-time concern (ORDER BY conv_id, turn_idx) or a foreachBatch
  sortWithinPartitions, matching the batch job's contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import extract

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), True),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])


def read_transcript_stream(spark: SparkSession, input_path: str,
                           max_files_per_trigger: int = 32) -> DataFrame:
    """File-source stream over a transcript directory (the local stand-in
    for Kafka/Kinesis; swapping the source leaves everything below
    unchanged)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def start_extraction_stream(spark: SparkSession, input_path: str,
                            output_path: str, checkpoint_path: str,
                            available_now: bool = True):
    """Run the extraction stream to parquet with exactly-once checkpoint
    semantics, under the batch job's default ``ExtractOptions`` (so a turn
    extracts alike in both tiers). ``available_now=True`` drains the
    current backlog and stops (the batch-parity mode used by tests);
    ``False`` runs continuously."""
    out = extract(read_transcript_stream(spark, input_path))
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_counts(stream: DataFrame, window: str = "5 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming reporting analog of the batch method-distribution
    summary (SURVEY §2.3 A3): turns per content type per event-time
    window. The watermark bounds state for late-arriving turns."""
    extracted = extract(stream)
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "content_type")
        .agg(F.count(F.lit(1)).alias("n_turns"),
             F.avg("confidence").alias("avg_confidence"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "content_type", "n_turns", "avg_confidence")
    )


def start_windowed_counts(spark: SparkSession, input_path: str,
                          checkpoint_path: str, query_name: str,
                          window: str = "5 minutes",
                          watermark: str = "10 minutes",
                          available_now: bool = True,
                          output_mode: str = "append"):
    """Windowed counts to an in-memory sink (test/inspection surface).

    ``append`` emits a window only once the watermark passes its end
    (exactly-once, late-data-safe — the production mode); ``complete``
    re-emits all windows each trigger (bounded cardinality reporting)."""
    counts = windowed_turn_counts(
        read_transcript_stream(spark, input_path), window, watermark)
    writer = (
        counts.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# custom stateful operator: conversation sessionization
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), True),
    T.StructField("n_turns", T.LongType(), True),
    T.StructField("n_chars", T.LongType(), True),
    T.StructField("first_ts", T.TimestampType(), True),
    T.StructField("last_ts", T.TimestampType(), True),
    T.StructField("closed", T.BooleanType(), True),
])

# state rides as epoch-microsecond ints (timestamp columns are not
# supported in the state schema)
SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("n_turns", T.LongType(), True),
    T.StructField("n_chars", T.LongType(), True),
    T.StructField("first_us", T.LongType(), True),
    T.StructField("last_us", T.LongType(), True),
])


def sessionize_conversations(stream: DataFrame,
                             gap_ms: int = 10 * 60 * 1000,
                             emit_progress: bool = False) -> DataFrame:
    """Arbitrary-stateful streaming (the operator class Spark's built-ins
    can't express): assemble one session row per conversation, closing it
    when no turn arrives within ``gap_ms`` of event time.

    ``applyInPandasWithState`` + event-time timeout: per-conv state holds
    (n_turns, n_chars, first/last event time); each trigger emits an open
    progress row (update mode), and the watermark passing last_ts+gap
    fires the timeout that emits the final ``closed=true`` row and drops
    the state. Turns with a null ``ts`` are dropped — they carry no event
    time to place them in a session, and their NaT sentinel would
    otherwise corrupt the bounds or crash the query.
    State is bounded by the number of live conversations, and
    the checkpoint persists it across restarts (the streaming analog of
    the batch job's lineage-based resume).

    ``emit_progress=False`` (production): append mode, ONE closed row per
    session on timeout — works with recovering sinks (parquet).
    ``emit_progress=True``: update mode, also emits an open progress row
    per conversation per trigger (memory-sink inspection; the memory sink
    cannot recover a checkpoint, so single-run use only).
    """
    import pandas as pd  # noqa: F401 (worker-side import)

    def fn(key, pdfs, state):
        import pandas as pd
        from datetime import datetime, timezone

        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_chars, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame([{
                "conv_id": conv_id, "n_turns": n_turns, "n_chars": n_chars,
                "first_ts": datetime.fromtimestamp(first_us / 1e6,
                                                   tz=timezone.utc),
                "last_ts": datetime.fromtimestamp(last_us / 1e6,
                                                  tz=timezone.utc),
                "closed": True,
            }])
            return
        n_turns = n_chars = 0
        first_us = last_us = None
        if state.exists:
            n_turns, n_chars, first_us, last_us = state.get
        nat = -(1 << 63)  # numpy NaT → int64 sentinel
        for pdf in pdfs:
            # robust to pandas datetime64[ns] vs [us] storage
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            valid = ts_us != nat
            if not valid.all():
                # a null ts has no event time: it cannot be placed in an
                # event-time session, and the NaT sentinel would poison
                # first/last bounds (and a negative timeout kills the
                # whole query). Drop such turns instead of crashing —
                # one bad row must never terminate the stream.
                pdf = pdf[valid]
                ts_us = ts_us[valid]
            if not len(pdf):
                continue
            n_turns += len(pdf)
            n_chars += int(pdf["text"].fillna("").str.len().sum())
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        if last_us is None:
            # only null-ts turns ever seen for this key — no state to keep
            return
        state.update((n_turns, n_chars, first_us, last_us))
        # clamp: when only dropped (null-ts) rows arrived, last_us is the
        # STALE state value and last_us+gap may already sit at/below the
        # current watermark — setTimeoutTimestamp would then raise and
        # kill the query. Past-due sessions re-arm at watermark+1 and
        # close on the next trigger instead.
        timeout_ms = last_us // 1000 + gap_ms
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        if emit_progress:
            from datetime import datetime, timezone
            yield pd.DataFrame([{
                "conv_id": conv_id, "n_turns": n_turns, "n_chars": n_chars,
                "first_ts": datetime.fromtimestamp(first_us / 1e6,
                                                   tz=timezone.utc),
                "last_ts": datetime.fromtimestamp(last_us / 1e6,
                                                  tz=timezone.utc),
                "closed": False,
            }])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.withWatermark("ts", f"{gap_ms // 1000} seconds")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA,
            "update" if emit_progress else "append",
            GroupStateTimeout.EventTimeTimeout)
    )


def start_sessionizer(spark: SparkSession, input_path: str,
                      output_path: str, checkpoint_path: str,
                      gap_ms: int = 10 * 60 * 1000,
                      available_now: bool = True):
    """Closed-session rows to a parquet sink (append mode). Run it twice
    against the same checkpoint with new files in between: open sessions
    survive the restart via the state store, and conversations whose gap
    elapsed (watermark advanced past last_ts+gap) emit their closed=true
    row on the second run — the test surface for state recovery +
    event-time timeout."""
    sessions = sessionize_conversations(
        read_transcript_stream(spark, input_path), gap_ms,
        emit_progress=False)
    writer = (
        sessions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
