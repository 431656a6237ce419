"""J6 + A5/A7: streaming ingest with exactly-once per (key, time).

Reference semantics: history points are delta-ingested past a per-key
high-water mark and upserted with ON CONFLICT (name, time) DO NOTHING
(src/SQLinserts.py:515-584) — replay-safe, duplicate-free.

Spark-first realization:
* in-stream: withWatermark + dropDuplicates([key, time]) removes
  within-stream dupes with bounded state;
* at the sink: an anti-join against the already-stored keyset inside
  foreachBatch makes micro-batch REPLAY idempotent on vanilla parquet
  (Delta MERGE would subsume this; parquet is what this environment
  has — single-writer discipline is assumed, as the reference assumes
  one ingest process).

Each append executes its input once, in the anti-joined write. A
normalizer's output (sources/wire.py) is a local checkpoint, so a
later route_batch of the same batch reads the checkpoint's blocks
instead of re-running the caller's Python-backed rows.

Sink layout is storage.layout: date-partitioned, key-sorted within
partitions (the Timescale chunk + segmentby analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hridaya_steam_market_tracker_spark.checkpoints import _hadoop_fs
from hridaya_steam_market_tracker_spark.storage.layout import write_partitioned

KEY_COLS = ("market_hash_name", "time")


def dedup_in_stream(stream_df: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Watermarked within-stream dedup on the natural key (J6)."""
    return stream_df.withWatermark("time", watermark_delay).dropDuplicates(
        list(KEY_COLS)
    )


def idempotent_append(batch_df: DataFrame, sink_path: str) -> None:
    """Append only rows whose (key, time) is not already stored —
    the ON CONFLICT DO NOTHING analog for a parquet sink. Used inside
    foreachBatch, so retries of the same micro-batch are no-ops.

    Only a missing sink counts as empty (checked through the Hadoop
    FileSystem, so any URI scheme works); every other read failure — a
    corrupt file, a permissions error, a key-type conflict — raises
    rather than degrading into a blind append of duplicate keys. The
    stored keys are read with the batch's key types, so a sink whose
    only writes were empty (no data file yet) reads as empty too.
    """
    spark = batch_df.sparkSession
    fresh = batch_df.dropDuplicates(list(KEY_COLS))
    fs, path = _hadoop_fs(spark, sink_path)
    if fs.exists(path):
        key_schema = T.StructType([batch_df.schema[c] for c in KEY_COLS])
        stored = spark.read.schema(key_schema).parquet(sink_path).select(*KEY_COLS)
        fresh = fresh.join(stored, list(KEY_COLS), "left_anti")
    write_partitioned(fresh, sink_path)


def start_history_ingest(
    stream_df: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    watermark_delay: str = "1 hour",
    trigger_seconds: float | None = None,
):
    """Wire the J6 pipeline: watermark-dedup -> idempotent append sink."""
    deduped = dedup_in_stream(stream_df, watermark_delay)
    writer = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(lambda df, _id: idempotent_append(df, sink_path))
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_stream_by_content(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "time",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming CONTENT dedup for document ingest: only the first
    arrival of each normalized text body passes; replays and re-crawls
    of identical content inside the watermark horizon are dropped.

    This is the streaming twin of ``operators.dedup.exact_duplicates``
    (same md5-over-normalized-tokens fingerprint, so a batch backfill
    and the live stream agree on what counts as a duplicate).

    Uses ``dropDuplicatesWithinWatermark`` rather than plain
    ``dropDuplicates``: the dedup key is the content hash, NOT the
    event-time column, so only the within-watermark variant can evict
    per-hash state once the watermark passes — plain dropDuplicates on
    a non-time key would grow state forever on an unbounded corpus.
    """
    from hridaya_steam_market_tracker_spark.operators.text import fingerprint

    return (
        stream_df.withColumn("content_hash", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
