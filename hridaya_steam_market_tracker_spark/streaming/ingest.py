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

Sink layout is storage.layout: date-partitioned, key-sorted within
partitions (the Timescale chunk + segmentby analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


_LATEST = "_LATEST"


def _snapshot_read(spark: SparkSession, sink_path: str) -> DataFrame | None:
    import os

    ptr = os.path.join(sink_path, _LATEST)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        version = fh.read().strip()
    return spark.read.parquet(os.path.join(sink_path, version))


def read_merged(spark: SparkSession, sink_path: str) -> DataFrame:
    """Read the current snapshot of a merge_upsert sink."""
    df = _snapshot_read(spark, sink_path)
    if df is None:
        raise FileNotFoundError(f"no snapshot at {sink_path}")
    return df


def merge_upsert(
    batch_df: DataFrame,
    sink_path: str,
    key_cols: tuple[str, ...] = KEY_COLS,
    when_matched: str = "ignore",
) -> None:
    """MERGE INTO analog of the reference's ON CONFLICT upsert family
    (src/SQLinserts.py:515-584): 'ignore' = DO NOTHING on key match,
    'replace' = DO UPDATE (incoming row wins).

    With delta-spark installed this should be a log-structured
    `DeltaTable.merge` — O(changed files), concurrent-writer safe via
    optimistic concurrency. Without Delta, the fallback is a
    **versioned snapshot** table:

        sink/v_0000N/part-*.parquet   immutable snapshot directories
        sink/_LATEST                  pointer file naming the current one

    A merge reads the current snapshot, unions/anti-joins the batch,
    writes a NEW version directory, then atomically swaps the pointer
    (POSIX rename) — readers always see a complete snapshot and replay
    of the same batch is a no-op. LIMITS (documented, tested): the
    rewrite is O(table) per merge — fine for control-plane-sized
    tables, wrong for the 100 TB fact table (use Delta/Iceberg there);
    and two concurrent writers serialize on last-pointer-wins, so one
    merge's rows can be lost — single-writer discipline still applies
    (tests/test_streaming.py pins this failure mode).
    """
    import os
    import uuid

    if when_matched not in ("ignore", "replace"):
        raise ValueError(f"when_matched must be ignore|replace, got {when_matched!r}")
    spark = batch_df.sparkSession
    stored = _snapshot_read(spark, sink_path)
    fresh = batch_df.dropDuplicates(list(key_cols))
    if stored is None:
        merged = fresh
    elif when_matched == "ignore":
        merged = stored.unionByName(
            fresh.join(stored.select(*key_cols), list(key_cols), "left_anti")
        )
    else:  # replace: incoming wins on key collision
        merged = stored.join(
            fresh.select(*key_cols), list(key_cols), "left_anti"
        ).unionByName(fresh)

    version = f"v_{uuid.uuid4().hex[:12]}"
    merged.write.mode("overwrite").parquet(os.path.join(sink_path, version))
    tmp_ptr = os.path.join(sink_path, f".{_LATEST}.{uuid.uuid4().hex[:8]}")
    with open(tmp_ptr, "w") as fh:
        fh.write(version)
    os.replace(tmp_ptr, os.path.join(sink_path, _LATEST))  # atomic on POSIX


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
