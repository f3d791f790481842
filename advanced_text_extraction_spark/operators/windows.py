"""Window / ordering operators (SURVEY.md §2.4 W1–W3).

All built-in Catalyst window functions — no UDFs. W3 (stable turn order)
is the flagship plan's ``sortWithinPartitions`` in ``plans/pipeline.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(df: DataFrame, conv_col: str = "conv_id",
                     ts_col: str = "ts", text_col: str = "text",
                     gap_ms: int = 10 * 60 * 1000,
                     tiebreak_col: str | None = None) -> DataFrame:
    """Batch gap-sessionization — the bounded-input twin of
    ``streaming.extract_stream.sessionize_conversations``: identical
    session semantics (a session closes when no turn arrives within
    ``gap_ms`` of event time; null-``ts`` turns carry no event time and
    are dropped), expressed as Catalyst window algebra. Per conversation
    in event-time order, a turn whose gap from its predecessor exceeds
    ``gap_ms`` starts a new session; bounded input means every session
    closes. Output: one row per (conv, session_idx) with turn count,
    char count and first/last event time — the same aggregate contract
    the streaming operator's state accumulates
    (``tests/test_streaming.py`` pins batch ≡ streaming on a shared
    fixture, and the driver's DuckDB oracle hash-gates THIS operator, so
    the sessionization semantics hold a hard correctness row).

    Scale shape: ONE exchange, on the conversation key. Both window
    functions (lag + running flag-sum) and the final groupBy reuse it —
    HashPartitioning(conv) satisfies the aggregation's clustered
    distribution over (conv, session_idx) — so adding the aggregate
    costs no second shuffle. The per-conversation sort is
    partition-local; the hot-key bound is one conversation's turn
    count, exactly the bound the streaming state store holds."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(conv_col).orderBy(*order)
    # cast covers TIMESTAMP_NTZ inputs (unix_micros rejects them); the
    # session-tz shift it may introduce is a constant offset, and only
    # DIFFERENCES of the value are used
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_sess = (prev_us.isNull()
                | (us - prev_us > gap_ms * 1000)).cast("int")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        df.where(F.col(ts_col).isNotNull())
        .select(F.col(conv_col), *[F.col(c) for c in order[1:]],
                F.col(ts_col),
                F.length(F.coalesce(F.col(text_col), F.lit("")))
                .alias("_n_chars"))
        .withColumn("session_idx",
                    F.sum(new_sess).over(wcum).cast("int"))
    )
    return (
        sess.groupBy(conv_col, "session_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
             F.sum("_n_chars").cast("long").alias("n_chars"),
             F.min(ts_col).alias("first_ts"),
             F.max(ts_col).alias("last_ts"))
    )


def windowed_counts_batch(df: DataFrame, ts_col: str = "ts",
                          key_col: str = "content_type",
                          val_col: str = "confidence",
                          window_sec: int = 300) -> DataFrame:
    """W6 — tumbling event-time window counts, batch tier: the
    bounded-input twin of ``streaming.extract_stream.
    windowed_turn_counts`` (T18). Same aggregation contract — one row
    per (epoch-aligned window, key) with the row count and the mean of
    ``val_col`` — via the SAME ``F.window`` tumbling semantics the
    streaming query uses, so the window-boundary behavior itself holds a
    hard driver-oracle row (``tests/test_streaming.py`` pins
    batch ≡ streaming on a shared extracted fixture). Rows with a null
    ``ts`` carry no event time and are dropped, exactly as the streaming
    watermark drops them.

    Scale shape: ONE partial-agg-friendly exchange on (window, key) —
    the window struct is computed map-side, hot windows pre-aggregate
    before the shuffle. The mean is rounded to 6dp so the DuckDB oracle
    (same rounding) hashes identically despite sum-order freedom."""
    w = F.window(F.col(ts_col), f"{window_sec} seconds")
    return (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(w.alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.round(F.avg(val_col), 6).alias("avg_val"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                key_col, "n_rows", "avg_val")
    )


def latest_per_key(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """W1 — newest row per key (reference cache probe ORDER BY timestamp
    DESC LIMIT 1, /root/reference/text_extractor.py:1049-1054)."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def history_top_n(df: DataFrame, order_col: str, n: int,
                  preview_col: str | None = None, preview_len: int = 100) -> DataFrame:
    """W2 — history top-N with text preview (reference
    /root/reference/text_extractor.py:1086-1114): ORDER BY ts DESC LIMIT n,
    preview = text[:100]. Catalyst turns orderBy+limit into TakeOrdered —
    no global sort materializes."""
    out = df.orderBy(F.desc(order_col)).limit(n)
    if preview_col:
        out = out.withColumn(
            "preview", F.substring(F.col(preview_col), 1, preview_len)
        )
    return out
