"""A11/J9/J10 end-to-end: the sink table IS the change feed. A live
streaming query reads newly-appended parquet rows and routes them to
subscribers via foreachBatch — the trigger→NOTIFY→WS chain without a
database.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.streaming.push import start_push


def test_cdc_stream_over_sink_routes_appends(spark, tmp_path):
    sink_dir = str(tmp_path / "overview_sink")
    schema_src = spark.createDataFrame(
        [("AK-47", "priceoverview", "2024-01-01 10:00:00", 1.5)],
        "market_hash_name string, stream string, time_s string, value double",
    ).select(
        "market_hash_name", "stream",
        F.col("time_s").cast("timestamp").alias("time"), "value",
    )
    schema_src.coalesce(1).write.mode("overwrite").parquet(sink_dir)

    subs = spark.createDataFrame(
        [("AK-47", "priceoverview", "sock-1")],
        "market_hash_name string, stream string, subscriber_id string",
    )
    frames: list = []
    change_feed = spark.readStream.schema(
        spark.read.parquet(sink_dir).schema
    ).parquet(sink_dir)
    q = start_push(change_feed, subs, frames.extend, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        n_initial = len(frames)
        assert n_initial == 1  # backfill row pushed to the subscriber

        # a new append (the "INSERT") flows through as a delta frame
        spark.createDataFrame(
            [
                ("AK-47", "priceoverview", "2024-01-01 10:01:00", 1.6),
                ("M4A4", "priceoverview", "2024-01-01 10:01:00", 9.9),  # unwatched
            ],
            "market_hash_name string, stream string, time_s string, value double",
        ).select(
            "market_hash_name", "stream",
            F.col("time_s").cast("timestamp").alias("time"), "value",
        ).coalesce(1).write.mode("append").parquet(sink_dir)
        q.processAllAvailable()
        new_frames = frames[n_initial:]
        assert len(new_frames) == 1  # M4A4 pruned (no subscriber)
        assert '"value":1.6' in new_frames[0]["frame"]
        assert new_frames[0]["subscriber_id"] == "sock-1"
    finally:
        q.stop()