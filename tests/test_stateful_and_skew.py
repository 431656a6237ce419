"""Tests: in-stream keyed backoff state (applyInPandasWithState),
streaming event-time window with watermark + late data, and the skew
helpers (results must equal the naive plans; plans must fan the hot key
out).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.skew import (
    salted_group_agg,
    salted_left_join,
)
from hridaya_steam_market_tracker_spark.streaming.stateful import track_backoff_state


def test_backoff_state_in_stream(spark, tmp_path):
    """Drive the stateful operator through a real streaming query: two
    failing polls then a success for key A; key B always healthy."""
    rows = [
        ("A", "priceoverview", False, "2024-01-01 10:00:00"),
        ("A", "priceoverview", False, "2024-01-01 10:01:00"),
        ("B", "priceoverview", True, "2024-01-01 10:00:30"),
    ]
    src = (
        spark.createDataFrame(
            rows, "market_hash_name string, stream string, ok boolean, et string"
        )
        .select("market_hash_name", "stream", "ok", F.col("et").cast("timestamp").alias("event_time"))
    )
    # file source so it runs as a genuine stream
    src_dir = str(tmp_path / "polls")
    src.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(src.schema).parquet(src_dir)
    q = (
        track_backoff_state(stream)
        .writeStream.format("memory")
        .queryName("backoff_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        state = {
            r["market_hash_name"]: (r["consecutive_backoffs"], r["cooldown_factor"], r["healthy"])
            for r in spark.sql("SELECT * FROM backoff_state").collect()
        }
        assert state["A"] == (2, 2, False)  # two failures -> factor 2^1
        assert state["B"] == (0, 0, True)

        # second micro-batch: A succeeds -> state resets (checkpointed state carries)
        spark.createDataFrame(
            [("A", "priceoverview", True, "2024-01-01 10:02:00")],
            "market_hash_name string, stream string, ok boolean, et string",
        ).select(
            "market_hash_name", "stream", "ok", F.col("et").cast("timestamp").alias("event_time")
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        latest = [
            r for r in spark.sql("SELECT * FROM backoff_state").collect()
            if r["market_hash_name"] == "A"
        ][-1]
        assert latest["consecutive_backoffs"] == 0 and latest["healthy"]
    finally:
        q.stop()


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Event-time tumbling window + watermark over a file stream; a
    late-beyond-watermark row must NOT reopen a finalized window
    (append mode only emits closed windows)."""
    schema = "market_hash_name string, time_s string, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema).select(
            "market_hash_name", F.col("time_s").cast("timestamp").alias("time"), "value"
        )
    src_dir = str(tmp_path / "ticks")
    mk(
        [
            ("A", "2024-01-01 10:00:10", 1.0),
            ("A", "2024-01-01 10:00:50", 3.0),
            ("A", "2024-01-01 10:02:10", 5.0),  # advances watermark past 10:01
        ]
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    windowed = (
        stream.withWatermark("time", "30 seconds")
        .groupBy(F.window("time", "1 minute").alias("w"), "market_hash_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").alias("ws"), "market_hash_name", "n", "avg_value")
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        # append a LATE row for the already-closed 10:00 window
        mk([("A", "2024-01-01 10:00:30", 100.0)]).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        closed = {
            str(r["ws"]): (r["n"], r["avg_value"])
            for r in spark.sql("SELECT * FROM win_sink").collect()
        }
        # the 10:00 window closed with the ORIGINAL two rows; late row dropped
        assert closed.get("2024-01-01 10:00:00") == (2, 2.0)
    finally:
        q.stop()


def test_salted_group_agg_matches_naive(spark):
    # heavy-tailed: one hot key with 10k rows, 50 cold keys
    df = spark.range(0, 12000).select(
        F.when(F.col("id") < 10000, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("key"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    naive = {
        (r["key"]): (r["n"], r["total"])
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total"))
        .collect()
    }
    salted = {
        (r["key"]): (r["n"], r["total"])
        for r in salted_group_agg(
            df,
            ["key"],
            {
                "n": (F.count(F.lit(1)), F.sum("n").cast("long")),
                "total": (F.sum("value"), F.round(F.sum("total"), 6)),
            },
            buckets=8,
        ).collect()
    }
    assert salted == naive
    assert salted["HOT"][0] == 10000


def test_salted_left_join_matches_naive(spark):
    big = spark.range(0, 5000).select(
        F.when(F.col("id") < 4000, F.lit(1)).otherwise(F.col("id") % 20).alias("k"),
        F.col("id").alias("row_id"),
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(20)], "k long, label string"
    )
    naive = sorted(
        (r["row_id"], r["label"]) for r in big.join(small, "k", "left").collect()
    )
    salted = sorted(
        (r["row_id"], r["label"])
        for r in salted_left_join(big, small, ["k"], buckets=8).collect()
    )
    assert salted == naive
