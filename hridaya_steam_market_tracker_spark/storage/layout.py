"""Physical layout: time partitioning + key clustering + lifecycle.

The reference's physical choices (SURVEY.md §4) and their Spark
equivalents, implemented here:

* Timescale hypertable chunking on time  -> `partitionBy(date)` parquet
  layout; Catalyst partition-prunes the B2 range predicates for free.
* `(market_hash_name, timestamp DESC)` index -> sortWithinPartitions by
  (key, time): parquet row-group min/max stats give data skipping on
  the key, and RLE on the sorted key compresses like Timescale's
  `compress_segmentby` (src/SQLinserts.py:270-297).
* retention: drop chunks older than N days (src/SQLinserts.py:279-297,
  351-357) -> partition-directory drop, no row rewrites.
* compaction: many small appended files per partition -> periodic
  rewrite to few files (the Timescale compress-after-age analog).

100 TB posture: every job here is per-partition metadata work or an
embarrassingly-parallel rewrite of one date partition; nothing scans
the whole table.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "date"


def write_partitioned(
    df: DataFrame,
    path: str,
    time_col: str = "time",
    key_col: str = "market_hash_name",
    mode: str = "append",
) -> None:
    """Date-partitioned, key-clustered columnar write."""
    (
        df.withColumn(PARTITION_COL, F.to_date(F.col(time_col)))
        .repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(key_col, time_col)
        .write.mode(mode)
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )


def _rename_aside(tmp: str, live: str) -> None:
    """Swap the fully written ``tmp`` dir in for ``live``: live →
    ``.compact.old``, tmp → live, drop old. ``live`` is absent only
    between two atomic renames, never for the duration of an
    ``rmtree``; every state a crash can leave is one
    `_check_partition_integrity` recognises. Shared by
    `compact_partition` and the near-dup gate stores
    (streaming/corpus_ingest.py `compact_store`)."""
    old = live + ".compact.old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def _check_partition_integrity(path: str, repair: bool = False) -> None:
    """Guard every crash state `_rename_aside` can leave among the
    directories under ``path`` (date partitions of a table, or the
    docs/bands/wfps components of a gate store), so readers get either
    clean results or a guided error — never a raw
    ``date.fromisoformat`` crash on a ``date=X.compact.*`` entry (those
    start with ``date=`` too) and never a gate store silently read as
    empty.

    ``repair`` gates the destructive arm and is set ONLY by the writer
    (`compact_partition` start): deleting a superseded ``.compact.*``
    dir from a READ path would let a reader running concurrently with
    a live compaction rmtree the writer's in-flight tmp and fail that
    compaction at its rename — readers must stay read-only (they skip
    ``.compact.*`` entries anyway), while the single WRITER deleting
    its own predecessor's leftovers is safe by the single-writer
    contract. Both modes still RAISE on the dangerous states (an
    orphan that may be the only surviving copy). Per state:

    * ``.compact.tmp`` WITHOUT live (crash between tmp write-out and
      the swap completing): the tmp dir may be the only surviving
      copy — refuse loudly; recovery must be a deliberate single
      ``os.rename``.
    * ``.compact.old`` WITHOUT live (and no tmp): the pre-compaction
      copy is the only data left — refuse with the rename that
      restores it.
    * ``.compact.tmp`` ALONGSIDE live (crash before the first rename):
      live is complete and authoritative; the stale tmp is removed by
      the writer (readers skip it).
    * ``.compact.old`` ALONGSIDE live (crash between the second rename
      and the rmtree, or a partial rmtree): live is the compacted
      result; the superseded old copy is removed by the writer —
      finishing the interrupted swap, exactly what the next compaction
      would do (readers skip it).
    """
    if not os.path.isdir(path):
        return
    for entry in os.listdir(path):
        for suffix in (".compact.tmp", ".compact.old"):
            if not entry.endswith(suffix):
                continue
            live = os.path.join(path, entry[: -len(suffix)])
            orphan = os.path.join(path, entry)
            if os.path.isdir(live):
                if repair:  # live is authoritative; the WRITER finishes the swap
                    shutil.rmtree(orphan)
            elif suffix == ".compact.tmp":
                raise RuntimeError(
                    f"half-compacted directory: {orphan!r} exists without "
                    f"{live!r}; a compaction crashed mid-swap. Recover with "
                    f"os.rename({orphan!r}, {live!r}) before reading, "
                    f"ingesting or compacting."
                )
            elif not os.path.isdir(live + ".compact.tmp"):
                raise RuntimeError(
                    f"half-compacted directory: {orphan!r} exists without "
                    f"{live!r} or a .compact.tmp; the pre-compaction copy is "
                    f"the only data left. Recover with "
                    f"os.rename({orphan!r}, {live!r})."
                )
            # else: live absent but tmp present too (crash between the
            # two renames) — the .compact.tmp branch raises with the
            # right recovery (the tmp is the complete compacted copy);
            # don't mask it with the old-copy message.


def list_partitions(path: str) -> list[date]:
    _check_partition_integrity(path)
    out = []
    if not os.path.isdir(path):
        return out
    for entry in os.listdir(path):
        # '.compact.' entries start with 'date=' too; the guard above
        # removes/refuses them, but skip defensively so a state created
        # AFTER the guard ran (single-writer violation) still cannot
        # surface as a fromisoformat crash.
        if entry.startswith(f"{PARTITION_COL}=") and ".compact." not in entry:
            out.append(date.fromisoformat(entry.split("=", 1)[1]))
    return sorted(out)


def apply_retention(path: str, keep_days: int, today: date | None = None) -> list[date]:
    """Drop partitions older than keep_days (chunk-drop analog).

    Pure partition-directory removal — O(#partitions), no data scan, no
    row rewrites; exactly how drop_chunks behaves.
    """
    today = today or date.today()
    cutoff = today - timedelta(days=keep_days)
    dropped = []
    for part in list_partitions(path):
        if part < cutoff:
            shutil.rmtree(os.path.join(path, f"{PARTITION_COL}={part.isoformat()}"))
            dropped.append(part)
    return dropped


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """A10 CSV export (reference DOCUMENTATION.md:312-315's
    `sqlite3 -csv` dump). Nested columns are JSON-encoded first (CSV is
    flat); single_file coalesces for small extracts only."""
    flat = df
    for f in df.schema.fields:
        if f.dataType.simpleString().startswith(("array", "map", "struct")):
            flat = flat.withColumn(f.name, F.to_json(F.col(f.name)))
    if single_file:
        flat = flat.coalesce(1)
    flat.write.mode("overwrite").option("header", True).csv(path)


def compact_partition(
    spark: SparkSession,
    path: str,
    part: date,
    key_col: str = "market_hash_name",
    time_col: str = "time",
    target_files: int = 1,
) -> int:
    """Rewrite one date partition into `target_files` key-sorted files
    (compress-after-age analog). Returns rows rewritten. Only the one
    partition directory is read and replaced via `_rename_aside` — a
    crash mid-swap leaves the fully written ``.compact.tmp`` for a
    one-rename recovery, never a partially deleted live dir. Refuses
    loudly (rather than clobbering the only surviving copy) if the
    table already holds a half-compacted partition from a previous
    crash."""
    _check_partition_integrity(path, repair=True)
    part_dir = os.path.join(path, f"{PARTITION_COL}={part.isoformat()}")
    df = spark.read.parquet(part_dir)
    n = df.count()
    tmp_dir = part_dir + ".compact.tmp"
    (
        df.coalesce(target_files)
        .sortWithinPartitions(key_col, time_col)
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    _rename_aside(tmp_dir, part_dir)
    return n


def refresh_daily_rollup(
    spark: SparkSession,
    base_path: str,
    rollup_path: str,
    delta_df: DataFrame,
    key_col: str = "market_hash_name",
    time_col: str = "time",
    value_col: str = "price",
) -> list[date]:
    """Incrementally refresh a daily (key, date) rollup — the Spark
    analog of a TimescaleDB continuous aggregate refresh policy.

    Only the date partitions TOUCHED by ``delta_df`` are recomputed:
    affected dates come from the delta (a tiny distinct over the
    micro-batch, collected because the writer API needs the partition
    list), the base table is re-read with a partition-pruned filter for
    exactly those dates, re-aggregated, and written with dynamic
    partition overwrite — untouched rollup partitions are never
    rewritten, never read. Refresh cost scales with the delta's date
    spread, not the table's history. Late-arriving data is therefore
    handled exactly: whichever old date it lands in gets recomputed
    from base truth, not patched approximately.

    Returns the refreshed dates (sorted).
    """
    affected = sorted(
        r[0]
        for r in delta_df.select(
            F.to_date(F.col(time_col)).alias(PARTITION_COL)
        )
        .distinct()
        .collect()
    )
    if not affected:
        return []
    base = spark.read.parquet(base_path).filter(
        F.col(PARTITION_COL).isin([d.isoformat() for d in affected])
    )
    rollup = base.groupBy(key_col, PARTITION_COL).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg(value_col), 6).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
    (
        rollup.repartition(F.col(PARTITION_COL))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .parquet(rollup_path)
    )
    return affected
