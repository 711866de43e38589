"""Watermarked stream-stream LEFT OUTER join.

``stream_click_nopurchase`` completes the streaming-join story begun by
``stream_click_purchase_join`` (inner): clicks joined to purchases
within a 1-hour horizon, where a click with NO purchase emits a
null-purchase row — but only once the join is PROVABLY unmatched,
i.e. when the global watermark passes the click's whole join window
(click_ts + horizon). That is the defining semantics of streaming
outer joins: unmatched results are delayed until state expiry, and
rows whose window the final watermark never passes are never emitted.

The oracle replays those semantics exactly in SQL: matched pairs are
the plain time-bounded join; unmatched clicks are emitted iff
``click_ts + horizon < final_watermark`` with ``final_watermark =
least(max(click_ts), max(purchase_ts)) - delay`` — the min-across-
streams watermark Spark computes after the last micro-batch (the
engine's no-data batch then flushes exactly this expired state;
verified deterministic across repeated replays).

Scale notes (100 TB): identical state bounds to the inner join — a
buffered click is evicted (and its unmatched row emitted) once the
watermark passes click_ts + horizon, so state is O(events in the
horizon), independent of stream length. The outer join adds no state,
only the null emission on eviction. Both sides shuffle once on
user_id; skewed users are AQE's problem, same as the inner join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_sql_engine_spark.streaming.windows import (
    NO_DATA_BATCHES,
    events_stream,
    replay,
    stream_to_df,
    tumbling_counts,
)

HORIZON = "1 hour"
DELAY = "2 hours"


def click_nopurchase_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Left-outer stream-stream join, watermarked on both sides."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", DELAY)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", DELAY)
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {HORIZON}"
        ),
        "left_outer",
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")


def stream_click_nopurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE streaming source feeds both join legs: a micro-batch reads
    # the files once and the self-join shares the scan, vs two
    # independently-tracked sources each scanning the parquet
    # (measured ~25% of the replay wall-clock at sf0.1)
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return stream_to_df(
        spark, click_nopurchase_join(clicks, purchases), "append", parts=4
    )


def click_purchase_full_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """FULL OUTER stream-stream join, watermarked on both sides —
    completes the inner/left-outer family. Unmatched CLICKS emit a
    null-purchase row once the watermark passes click_ts + horizon
    (same eviction as the left-outer); unmatched PURCHASES emit a
    null-click row once the watermark passes purchase_ts itself: the
    join condition bounds matching clicks to click_ts <= purchase_ts,
    so the purchase is provably unmatched as soon as no older click
    can still arrive. State remains O(events in the horizon) — the
    full-outer adds null emissions on eviction, never extra state."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", DELAY)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", DELAY)
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {HORIZON}"
        ),
        "full_outer",
    ).select(
        F.coalesce("c_user", "p_user").alias("user_id"),
        "click_id",
        "purchase_id",
    )


def stream_click_purchase_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one source feeds both legs (shared scan, see the left-outer note)
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return stream_to_df(
        spark, click_purchase_full_join(clicks, purchases), "append", parts=4
    )


def stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backfill replay: the production pattern for
    "process everything that exists, then STOP" — unlike a continuous
    trigger the query self-terminates after draining the source, and
    unlike the deprecated Trigger.Once it respects source rate limits
    by running multiple bounded micro-batches. Result must equal the
    continuous replay of the same watermarked tumbling aggregation, so
    it shares ``stream_tumbling_counts``'s batch oracle."""
    writer = (
        tumbling_counts(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    # 4 state partitions: JVM stateful (see stream_to_df). Complete
    # mode re-emits the full aggregate every batch, so the final
    # no-data batch recomputes an identical table — skip it.
    return replay(
        spark,
        writer,
        {"spark.sql.shuffle.partitions": "4", NO_DATA_BATCHES: "false"},
        memory=True,
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_click_nopurchase": stream_click_nopurchase,
    "stream_click_purchase_full": stream_click_purchase_full,
    "stream_available_now": stream_available_now,
}

def _tumbling_oracle() -> str:
    from mini_sql_engine_spark.streaming import windows

    return windows.ORACLES["stream_tumbling_counts"]


ORACLES: dict[str, str] = {
    "stream_available_now": _tumbling_oracle(),
    "stream_click_nopurchase": """
        WITH c AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'click'),
        p AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase'),
        wm AS (SELECT least((SELECT max(ts) FROM c),
                            (SELECT max(ts) FROM p))
                      - INTERVAL 2 HOURS AS w)
        SELECT c.user_id, c.event_id AS click_id,
               p.event_id AS purchase_id
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT c.user_id, c.event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id
        FROM c, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
          AND c.ts + INTERVAL 1 HOUR < wm.w
    """,
    # full outer = left-outer rows UNION the symmetric unmatched
    # purchases, whose state expires once the watermark passes
    # purchase_ts (no older click can still arrive)
    "stream_click_purchase_full": """
        WITH c AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'click'),
        p AS (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase'),
        wm AS (SELECT least((SELECT max(ts) FROM c),
                            (SELECT max(ts) FROM p))
                      - INTERVAL 2 HOURS AS w)
        SELECT c.user_id, c.event_id AS click_id,
               p.event_id AS purchase_id
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT c.user_id, c.event_id AS click_id,
               CAST(NULL AS BIGINT) AS purchase_id
        FROM c, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
          AND c.ts + INTERVAL 1 HOUR < wm.w
        UNION ALL
        SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
               p.event_id AS purchase_id
        FROM p, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM c
                WHERE c.user_id = p.user_id
                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
          AND p.ts < wm.w
    """,
}
