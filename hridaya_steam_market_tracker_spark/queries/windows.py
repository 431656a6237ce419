"""Window-function extensions (SURVEY.md §E note: rolling analytics are
implied by the reference's dashboards but unimplemented — cheap once
E1-E5 exist) + streaming-window batch analogs (§J note: tumbling /
sliding windows as first-class engine features) + the as-of join
extension (§C note).

All single-shuffle keyed-window plans; the global ranking runs AFTER
aggregation (150-row input), never over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.asof import as_of_join
from hridaya_steam_market_tracker_spark.queries import register
from hridaya_steam_market_tracker_spark.queries.oracle_sql import cosine_sql
from hridaya_steam_market_tracker_spark.tables import table


@register(
    "w1_rolling_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
    FROM events
    """,
    doc="Rolling 7-row moving average per key (frame-spec window).",
)
def w1_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, 0)
    )
    return events.select(
        "event_id", "user_id", "ts", F.round(F.avg("value").over(w), 6).alias("ma7")
    )


@register(
    "w2_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
    FROM events
    QUALIFY delta IS NOT NULL
    """,
    doc="lag(): per-key successive price delta (tick-to-tick move).",
)
def w2_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
        )
        .filter(F.col("delta").isNotNull())
    )


@register(
    "w3_rank_by_activity",
    oracle="""
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(rank() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS activity_rank,
           CAST(dense_rank() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS dense_activity_rank
    FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    """,
    doc=(
        "rank()/dense_rank() global ranking (E5 family) — runs on the 150-row AGGREGATE, "
        "so the single-partition global window is fine at any input scale."
    ),
)
def w3_rank_by_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("user_id"))
    return counts.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.rank().over(w).cast("int").alias("activity_rank"),
        F.dense_rank().over(w).cast("int").alias("dense_activity_rank"),
    )


@register(
    "w4_tumbling_window_1d",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1
    """,
    doc=(
        "Tumbling 1-day event-time window via F.window() — the batch analog of the "
        "streaming windowed agg (J note); epoch-aligned, equals date_trunc."
    ),
)
def w4_tumbling_window_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
    )


@register(
    "w5_sliding_window_6h_1h",
    oracle="""
    SELECT date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events, generate_series(0, 5) AS g(k)
    GROUP BY 1
    """,
    doc=(
        "Sliding 6h window, 1h slide, via F.window() — each event lands in 6 "
        "hour-aligned windows (J1/J13's sliding-usage family as an engine feature)."
    ),
)
def w5_sliding_window_6h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@register(
    "w6_asof_join_purchase_click",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
    clicks AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           round(p.value, 6) AS purchase_value,
           c.ts AS right_ts,
           round(c.value, 6) AS right_value
    FROM purchases p ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc=(
        "As-of join (C-family extension): each purchase enriched with the user's most "
        "recent click at-or-before it. Spark side = union + keyed window last-carry "
        "(one shuffle); oracle = DuckDB's native ASOF JOIN."
    ),
)
def w6_asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = as_of_join(purchases, clicks, ["user_id"], "ts", ["value"])
    return (
        joined.filter(F.col("right_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round("value", 6).alias("purchase_value"),
            "right_ts",
            F.round("right_value", 6).alias("right_value"),
        )
    )


@register(
    "emb_cosine_near_dup",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS i, b.vec_id AS j, round({cosine_sql("a.v", "b.v")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {cosine_sql("a.v", "b.v")} >= 0.4
    """,
    doc=(
        "Embedding-cosine near-duplicate pairs, EXACT, via the tiled block "
        "self-join (operators/similarity.py:cosine_self_join) — equi-join on a "
        "tile grid, no CartesianProduct, bounded per-task memory. Exact "
        "mid-threshold cosine is inherently O(n^2 d) FLOPs; the sub-quadratic "
        "approximate paths are ann_lsh_topk / ann_ivf_topk."
    ),
)
def emb_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.similarity import (
        cosine_self_join,
    )

    emb = table(spark, sf_dir, "embeddings")
    return cosine_self_join(emb, threshold=0.4, n_blocks=16)


@register(
    "h5_iso8601_serialization",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS iso_ts
    FROM events WHERE event_id % 50 = 0
    """,
    doc="H5 ISO-8601 UTC serialization at the REST/WS edge — reference api/responseModels.py:209-217.",
)
def h5_iso8601_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return events.filter(F.col("event_id") % 50 == 0).select(
        "event_id",
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")).alias(
            "iso_ts"
        ),
    )


@register(
    "w7_trailing_1h_range_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6)
               AS trailing_1h_avg,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_in_window
    FROM events
    """,
    doc=(
        "Trailing 1-hour RANGE frame per key (value-based, not row-count-"
        "based): both engines order by epoch microseconds with a numeric "
        "range so frame boundaries agree exactly. The event-time analog of "
        "w1's ROWS frame; complements the w5 hopping-window aggregate with "
        "a per-row continuous window."
    ),
)
def w7_trailing_1h_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 6).alias("trailing_1h_avg"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@register(
    "w8_rank_distributions",
    oracle="""
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    doc=(
        "Distribution window functions per stream: percent_rank, cume_dist, "
        "ntile(4). ORDER BY carries event_id as a tiebreak so ntile's "
        "bucket assignment is deterministic across engines."
    ),
)
def w8_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return events.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )
