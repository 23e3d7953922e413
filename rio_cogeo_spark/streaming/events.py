"""Streaming rollups over the ``events`` table.

The reference is a one-shot pipeline (no streaming, SURVEY.md §2.9); this
module adds the Structured Streaming surface a web-scale ingest needs:
watermarked tumbling-window aggregation and gap-based sessionization.
Batch twins of both queries exist so streaming output can be asserted
equal to the batch result in tests (memory sink + processAllAvailable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
WINDOW = "1 hour"  # shared by windowed_rollup and its batch twin


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming file sources require a directory glob, not a single file
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_rollup(events: DataFrame) -> DataFrame:
    """Tumbling-window per-type rollup with late-data watermark."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_sec"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def windowed_rollup_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`windowed_rollup` (same plan minus watermark)."""
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_sec"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming query to completion over the bounded source
    (memory sink + processAllAvailable) and return the result table.
    ``output_mode='append'`` for non-aggregating operators (dedup)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY.md §2.9): running per-user event count + value total carried
    in state across micro-batches. Batch twin: groupBy(user).agg."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 4)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stateful_user_totals_batch(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Gap-based sessionization (batch): session starts when the per-user
    inter-event gap exceeds 30 minutes. Returns per-session rows
    (user_id, session_id, n_events, t_start_sec, t_end_sec)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_s = (
        events.withColumn("new_sess", (gap.isNull() | (gap > 30 * 60)).cast("int"))
        .withColumn("session_seq", F.sum("new_sess").over(w))
    )
    return (
        with_s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_timestamp("ts")).alias("t_start_sec"),
            F.max(F.unix_timestamp("ts")).alias("t_end_sec"),
        )
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col("user_id"), F.col("session_seq")),
        )
        .select("user_id", "session_id", "n_events", "t_start_sec", "t_end_sec")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition table of per-user event types —
    which event follows which (the navigation-model input for crawl
    scheduling and session analysis). One row per observed
    ``(prev_type, curr_type)`` pair:

    * ``cnt`` — exact transition count over consecutive per-user events
      (ordered by ``ts`` with ``event_id`` tie-break, so the sequence
      is deterministic under equal timestamps);
    * ``p_ppm = (cnt · 10^6) div row_total`` — the row-stochastic
      transition probability in exact ppm (integer division: NO float
      anywhere, the table hashes identically cross-engine).

    Scale design: ONE exchange of the event log by ``user_id`` (the
    lag window's partitioning — the irreducible movement for any
    per-user sequence op), then a map-side-combinable pair fold; the
    row-normalizing window runs on the TYPE×TYPE table (bounded by the
    event vocabulary, never the log). No per-row Python.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("curr_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "curr_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wt = Window.partitionBy("prev_type")
    return (
        counts.withColumn("row_total", F.sum("cnt").over(wt))
        .selectExpr(
            "prev_type", "curr_type", "cnt",
            "CAST((cnt * 1000000) div row_total AS BIGINT) AS p_ppm",
        )
    )


def event_transitions_sql() -> str:
    """DuckDB twin of :func:`event_transitions` over ``events`` with
    the standard events schema (user_id, event_type, ts, event_id)."""
    return f"""
WITH tr_p AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                     AS prev_type,
                     event_type AS curr_type
              FROM events),
tr_c AS (SELECT prev_type, curr_type, COUNT(*) AS cnt
         FROM tr_p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, curr_type, cnt,
       CAST((cnt * 1000000) // SUM(cnt) OVER (PARTITION BY prev_type)
            AS BIGINT) AS p_ppm
FROM tr_c"""
