"""Streaming-plane tests (SURVEY.md §J): rate limiter, scheduler
state machine, watermark-dedup ingest with idempotent replay, and
subscription-routed push.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.streaming.ingest import (
    dedup_in_stream,
    idempotent_append,
)
from hridaya_steam_market_tracker_spark.streaming.push import latest_per_key, route_batch
from hridaya_steam_market_tracker_spark.streaming.ratelimiter import (
    SlidingWindowRateLimiter,
)
from hridaya_steam_market_tracker_spark.streaming.reconcile import (
    Debouncer,
    diff_control_sets,
    feasibility,
    soft_delete,
)
from hridaya_steam_market_tracker_spark.streaming.scheduler import PollScheduler


# ---------------------------------------------------------------- J1
def test_rate_limiter_budget_and_window():
    t = [0.0]
    rl = SlidingWindowRateLimiter(budget=3, window_seconds=60, clock=lambda: t[0])
    assert all(rl.try_acquire() for _ in range(3))
    assert not rl.try_acquire()  # budget exhausted
    assert rl.time_until_token() == 60.0
    t[0] = 59.9
    assert not rl.try_acquire()
    t[0] = 60.01  # the t=0 stamps all exit the window together
    assert rl.try_acquire()
    assert rl.used == 1


# ------------------------------------------------------------- J2/J4
def test_scheduler_urgency_and_backoff():
    s = PollScheduler()
    s.upsert(("item", "priceoverview"), interval=10.0)
    # never polled -> infinite urgency, fires immediately
    assert s.due(now=0.0)[0].key == ("item", "priceoverview")
    s.record_success(("item", "priceoverview"), now=0.0)
    assert s.due(now=5.0) == []  # not due yet
    assert s.next_wake(now=5.0) == 5.0
    assert len(s.due(now=10.0)) == 1  # urgency 1.0
    # failures: cooldown interval * min(2^(n-1), 8)
    assert s.record_failure(("item", "priceoverview"), now=10.0) == 10.0
    assert s.due(now=15.0) == []  # cooling down, urgency 0
    assert s.record_failure(("item", "priceoverview"), now=30.0) == 20.0
    for _ in range(5):
        s.record_failure(("item", "priceoverview"), now=30.0)
    assert s.record_failure(("item", "priceoverview"), now=30.0) == 80.0  # capped x8
    s.record_success(("item", "priceoverview"), now=100.0)
    assert s.items[("item", "priceoverview")].consecutive_backoffs == 0
    # empty scheduler idles at 2 s
    s.remove(("item", "priceoverview"))
    assert s.next_wake(now=0.0) == 2.0


# ---------------------------------------------------------------- J6
def test_idempotent_append_replay(spark, tmp_path):
    sink = str(tmp_path / "history")
    batch = spark.createDataFrame(
        [("AK-47", "2024-01-01 10:00:00", 1.5), ("AK-47", "2024-01-01 11:00:00", 1.6)],
        "market_hash_name string, time_s string, value double",
    ).select("market_hash_name", F.col("time_s").cast("timestamp").alias("time"), "value")
    idempotent_append(batch, sink)
    assert spark.read.parquet(sink).count() == 2
    # replay the same micro-batch: zero new rows (reference 'up to date')
    idempotent_append(batch, sink)
    assert spark.read.parquet(sink).count() == 2
    # overlapping batch: only the genuinely new point lands
    batch2 = spark.createDataFrame(
        [("AK-47", "2024-01-01 11:00:00", 9.9), ("AK-47", "2024-01-01 12:00:00", 1.7)],
        "market_hash_name string, time_s string, value double",
    ).select("market_hash_name", F.col("time_s").cast("timestamp").alias("time"), "value")
    idempotent_append(batch2, sink)
    stored = spark.read.parquet(sink)
    assert stored.count() == 3
    # the conflicting re-send did NOT overwrite (DO NOTHING semantics)
    v11 = stored.filter(F.col("time") == "2024-01-01 11:00:00").collect()[0]["value"]
    assert v11 == 1.6


def test_idempotent_append_first_batch_into_missing_or_empty_sink(spark, tmp_path):
    """A missing sink is the one read failure that means "nothing
    stored": the first append creates it. A sink whose only write held
    no rows (no data file yet) reads as empty, not as an error."""
    sink = str(tmp_path / "missing" / "history")
    idempotent_append(_mk_points(spark, [("AK-47", "2024-01-01 10:00:00", 1.5)]), sink)
    assert spark.read.parquet(sink).count() == 1

    empty_first = str(tmp_path / "empty_first")
    idempotent_append(_mk_points(spark, []), empty_first)
    assert not any(f.endswith(".parquet") for _, _, fs in os.walk(empty_first) for f in fs)
    batch = _mk_points(spark, [("AK-47", "2024-01-01 10:00:00", 1.5)])
    idempotent_append(batch, empty_first)
    idempotent_append(batch, empty_first)
    assert spark.read.parquet(empty_first).count() == 1


def test_idempotent_append_refuses_unreadable_sink(spark, tmp_path):
    """A sink that exists but cannot be read (here a corrupt part file)
    must fail the append — treating it as empty would blindly admit
    duplicate (key, time) rows."""
    import pytest

    part_dir = tmp_path / "history" / "date=2024-01-01"
    part_dir.mkdir(parents=True)
    (part_dir / "part-00000-corrupt.snappy.parquet").write_bytes(b"not parquet" * 8)
    batch = _mk_points(spark, [("AK-47", "2024-01-01 10:00:00", 1.5)])
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        idempotent_append(batch, str(tmp_path / "history"))
    written = sorted(f for _, _, fs in os.walk(tmp_path / "history") for f in fs)
    assert written == ["part-00000-corrupt.snappy.parquet"]


def _mk_points(spark, rows):
    return spark.createDataFrame(
        rows, "market_hash_name string, time_s string, value double"
    ).select(
        "market_hash_name", F.col("time_s").cast("timestamp").alias("time"), "value"
    )


def test_start_history_ingest_restart_keeps_first_value(spark, tmp_path):
    """J6 wiring end to end: start_history_ingest runs watermark dedup
    into the idempotent_append sink. A second file re-sends overlapping
    points with new values (one of them twice) and the query restarts
    from the same checkpoint: every (market_hash_name, time) is stored
    exactly once and keeps the value sent first (ON CONFLICT DO
    NOTHING)."""
    from hridaya_steam_market_tracker_spark.streaming.ingest import (
        start_history_ingest,
    )

    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "history")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(
            "market_hash_name string, time timestamp, value double"
        ).parquet(src)
        q = start_history_ingest(stream, sink, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _mk_points(spark, [
        ("AK-47", "2024-01-01 10:00:00", 1.0),
        ("AK-47", "2024-01-01 11:00:00", 1.1),
        ("M4A4", "2024-01-01 10:00:00", 2.0),
    ]).write.parquet(src, mode="append")
    drain()
    _mk_points(spark, [
        ("AK-47", "2024-01-01 11:00:00", 9.9),
        ("AK-47", "2024-01-01 12:00:00", 1.2),
        ("M4A4", "2024-01-01 10:00:00", 8.8),
        ("M4A4", "2024-01-01 10:00:00", 7.7),
    ]).write.parquet(src, mode="append")
    drain()  # restart from the same checkpoint

    rows = spark.read.parquet(sink).select(
        "market_hash_name",
        F.date_format("time", "HH:mm").alias("t"),
        "value",
    ).collect()
    assert sorted((r[0], r[1], r[2]) for r in rows) == [
        ("AK-47", "10:00", 1.0),
        ("AK-47", "11:00", 1.1),
        ("AK-47", "12:00", 1.2),
        ("M4A4", "10:00", 2.0),
    ]


def test_streaming_dedup_end_to_end(spark, tmp_path):
    """Drive the watermark+dropDuplicates plan through a real streaming
    query (memory sink)."""
    src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    stream = src.select(
        (F.col("value") % 5).cast("string").alias("market_hash_name"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("time"),  # all dupes
        F.col("value").cast("double").alias("value"),
    )
    q = (
        dedup_in_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) FROM dedup_sink").collect()[0][0]
            if n >= 5:
                break
            time.sleep(1)
        # 5 distinct (key, time) pairs no matter how many rows arrived
        assert spark.sql("SELECT count(*) FROM dedup_sink").collect()[0][0] == 5
    finally:
        q.stop()


# ------------------------------------------------------------- J9/J10
def test_push_routing_prunes_unsubscribed(spark):
    batch = spark.createDataFrame(
        [
            ("AK-47", "priceoverview", "2024-01-01 10:00:00", 1.5),
            ("AK-47", "priceoverview", "2024-01-01 11:00:00", 1.6),  # latest wins
            ("M4A4", "priceoverview", "2024-01-01 10:00:00", 2.0),  # unwatched
        ],
        "market_hash_name string, stream string, time_s string, value double",
    ).select(
        "market_hash_name", "stream",
        F.col("time_s").cast("timestamp").alias("time"), "value",
    )
    subs = spark.createDataFrame(
        [("AK-47", "priceoverview", "sock-1"), ("AK-47", "priceoverview", "sock-2")],
        "market_hash_name string, stream string, subscriber_id string",
    )
    sent = []
    n = route_batch(batch, subs, emit=sent.extend)
    assert n == 2  # two subscribers, one (latest) frame each
    frames = sorted((r["subscriber_id"], r["frame"]) for r in sent)
    assert frames[0][0] == "sock-1" and frames[1][0] == "sock-2"
    assert '"name":"AK-47"' in frames[0][1] and '"value":1.6' in frames[0][1]
    assert all("M4A4" not in f for _, f in frames)  # short-circuit pruned


def test_route_batch_reads_subscriptions_once_per_object(spark):
    """route_batch reads a subscriptions DataFrame once and reuses the
    read while it gets the same object; a new object (a changed
    registry) is read afresh and its new subscriber gets frames."""
    runs = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(sid):
        runs.add(1)
        return sid

    def registry(sockets):
        return spark.createDataFrame(
            [("AK-47", "priceoverview", s) for s in sockets],
            "market_hash_name string, stream string, subscriber_id string",
        ).withColumn("subscriber_id", counted("subscriber_id"))

    def batch(value):
        return spark.createDataFrame(
            [("AK-47", "priceoverview", "2024-01-01 10:00:00", value)],
            "market_hash_name string, stream string, time_s string, value double",
        ).select("market_hash_name", "stream",
                 F.col("time_s").cast("timestamp").alias("time"), "value")

    subs = registry(["sock-1"])
    sent = []
    assert route_batch(batch(1.5), subs, sent.extend) == 1
    assert route_batch(batch(1.6), subs, sent.extend) == 1
    assert runs.value == 1  # one subscription row, read once for two batches
    changed = registry(["sock-1", "sock-2"])
    sent.clear()
    assert route_batch(batch(1.7), changed, sent.extend) == 2
    assert sorted(r["subscriber_id"] for r in sent) == ["sock-1", "sock-2"]
    assert runs.value == 3

    # many threads asking for one new object's copy read it once
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from hridaya_steam_market_tracker_spark.streaming.push import _local_subscriptions

    shared = registry(["sock-3"])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            copies = list(pool.map(lambda _: _local_subscriptions(shared), range(32),
                                   timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(c is copies[0] for c in copies)
    assert runs.value == 4


def test_latest_per_key_shared_definition(spark):
    df = spark.createDataFrame(
        [("a", "s", "2024-01-01 10:00:00", 1.0), ("a", "s", "2024-01-02 10:00:00", 2.0)],
        "market_hash_name string, stream string, time_s string, value double",
    ).select("market_hash_name", "stream", F.col("time_s").cast("timestamp").alias("time"), "value")
    out = latest_per_key(df, ["market_hash_name", "stream"]).collect()
    assert len(out) == 1 and out[0]["value"] == 2.0


# ------------------------------------------------------------- J7/J8
def test_reconcile_diff_and_noop_suppression(spark):
    cols = (
        "market_hash_name string, appid int, item_nameid bigint, stream string, "
        "currency int, country string, language string, poll_interval_sec int, enabled boolean"
    )
    current = spark.createDataFrame(
        [
            ("AK-47", 730, 1, "priceoverview", 1, "US", "english", 10, True),
            ("M4A4", 730, 2, "priceoverview", 1, "US", "english", 10, True),
            ("AWP", 730, 3, "histogram", 1, "US", "english", 10, True),
        ],
        cols,
    )
    desired = spark.createDataFrame(
        [
            ("AK-47", 730, 1, "priceoverview", 1, "US", "english", 10, True),  # no-op
            ("M4A4", 730, 2, "priceoverview", 3, "DE", "german", 10, True),  # changed
            ("Glock", 730, 4, "priceoverview", 1, "US", "english", 30, True),  # added
        ],
        cols,
    )
    diff = {r["market_hash_name"]: r["status"] for r in diff_control_sets(current, desired).collect()}
    # AK-47 suppressed entirely — the reconcile-storm loop breaker
    assert diff == {"M4A4": "changed", "Glock": "added", "AWP": "removed"}

    verdict = feasibility(desired, budget=15).collect()[0]
    assert verdict["required"] == 6 + 6 + 2 and not verdict["feasible"] is None

    sd = soft_delete(current, desired.select("market_hash_name", "stream"))
    awp = [r for r in sd.collect() if r["market_hash_name"] == "AWP"][0]
    assert awp["enabled"] is False  # disabled, not deleted


def test_debouncer_coalesces_bursts():
    t = [0.0]
    d = Debouncer(quiet_seconds=0.25, clock=lambda: t[0])
    assert not d.ready()
    for _ in range(7):
        d.signal()
        t[0] += 0.1  # signals keep arriving inside the quiet window
        assert not d.ready()
    t[0] += 0.25
    assert d.ready()
    assert d.consume() == 7  # one reconcile for the whole burst
    assert not d.ready()

def test_streaming_content_dedup_end_to_end(spark, tmp_path):
    """Drive dedup_stream_by_content through a live query: 5 distinct
    text bodies arriving over and over (different ids/timestamps every
    row) collapse to 5 survivors — content identity, not key identity."""
    from hridaya_steam_market_tracker_spark.streaming.ingest import (
        dedup_stream_by_content,
    )

    src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    stream = src.select(
        F.col("value").alias("doc_id"),
        F.concat(F.lit("Body number "), (F.col("value") % 5).cast("string")).alias(
            "text"
        ),
        F.col("timestamp").alias("time"),
    )
    q = (
        dedup_stream_by_content(stream)
        .writeStream.format("memory")
        .queryName("content_dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) FROM content_dedup_sink").collect()[0][0]
            if n >= 5:
                break
            time.sleep(1)
        rows = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT content_hash) AS d "
            "FROM content_dedup_sink"
        ).collect()[0]
        assert rows["n"] == 5 and rows["d"] == 5
    finally:
        q.stop()


def test_trending_topk_end_to_end(spark, tmp_path):
    """Sliding-window counts through a live query (update mode, memory
    sink), then the sink-edge rank: the hot key (value%4==0 twice as
    often via %2 mapping) must rank first in every complete window."""
    from hridaya_steam_market_tracker_spark.streaming.trending import (
        rank_topk,
        sliding_counts,
    )

    src = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
    # keys: half the rows 'hot', the rest spread over 'k1'..'k3'
    stream = src.select(
        F.when(F.col("value") % 2 == 0, "hot")
        .otherwise(F.concat(F.lit("k"), (F.col("value") % 3 + 1).cast("string")))
        .alias("market_hash_name"),
        F.col("timestamp").alias("time"),
    )
    counts = sliding_counts(
        stream, window_len="10 seconds", slide="5 seconds", watermark_delay="5 seconds"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("trend_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql(
                "SELECT count(DISTINCT market_hash_name) FROM trend_sink"
            ).collect()[0][0]
            if n >= 4:
                break
            time.sleep(1)
        frame = spark.table("trend_sink")
        # update-mode sinks append revisions; keep the LAST count per
        # (window, key) — monotonically nondecreasing, so max() works.
        latest = frame.groupBy("window_start", "window_end", "market_hash_name").agg(
            F.max("n_events").alias("n_events")
        )
        top1 = rank_topk(latest, k=1).collect()
        assert len(top1) >= 1
        # 'hot' receives ~3x any single spread key; it must lead every
        # window that saw enough traffic to be represented at all.
        for r in top1:
            assert r["market_hash_name"] == "hot"
    finally:
        q.stop()


def test_binary_ingestion_tier_streams(spark, tmp_path):
    """The Arrow-batched binary operators run under Structured
    Streaming unchanged: a file stream of gzip'd documents flows
    through decompress_blobs (mapInPandas) into a memory sink with the
    same per-row results as the batch path — the shape a continuous
    WARC-ingest job uses at scale (availableNow batches)."""
    import gzip

    from hridaya_steam_market_tracker_spark.operators.compression import (
        decompress_blobs,
    )

    src_dir = str(tmp_path / "blobs")
    rows = [
        (i, "gzip", bytearray(gzip.compress(f"stream doc {i}".encode(), mtime=0)))
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "doc_id long, codec string, payload binary"
    ).write.parquet(src_dir)

    stream = spark.readStream.schema(
        "doc_id long, codec string, payload binary"
    ).parquet(src_dir)
    out = decompress_blobs(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("inflated_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["text"]
        for r in spark.sql("SELECT * FROM inflated_stream").collect()
    }
    assert got == {i: f"stream doc {i}" for i in range(20)}


def test_streaming_curation_front_door(spark, tmp_path):
    """The curation gates run under Structured Streaming unchanged: a
    file stream of documents flows through the scan-stage quality/
    repetition scoring (with_text_stats + with_repetition_stats are
    pure per-row expressions — no state, no watermark needed) and
    exact-fingerprint in-stream dedup (watermarked dropDuplicates),
    landing only clean, first-seen docs — the continuous-ingest twin
    of pretrain_pipeline_e2e's first three gates."""
    from pyspark.sql import functions as F

    from hridaya_steam_market_tracker_spark.operators.text import (
        fingerprint,
        with_text_stats,
    )

    src_dir = str(tmp_path / "docs_stream")
    good = "the quick brown fox jumps over the lazy dog and runs far away home now"
    rows = (
        [(i, good + f" variant {i}", "2024-01-01T00:00:%02d" % i) for i in range(8)]
        # exact duplicate payloads of doc 0 -> must dedup to one
        + [(100 + j, good + " variant 0", "2024-01-01T00:01:%02d" % j) for j in range(3)]
        # low-quality (no stopwords, all punct) -> must be gated out
        + [(200, "!!! ??? ***", "2024-01-01T00:02:00")]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, ts_str string"
    ).withColumn("event_time", F.to_timestamp("ts_str")).drop("ts_str").write.parquet(
        src_dir
    )

    stream = spark.readStream.schema(
        "doc_id long, text string, event_time timestamp"
    ).parquet(src_dir)
    gated = (
        with_text_stats(stream)
        .filter(F.col("quality_score") >= 0.7)
        .withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("event_time", "1 hour")
        .dropDuplicates(["fp"])
    )
    q = (
        gated.select("doc_id", "fp").writeStream.format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM curated_stream").collect()}
    # 200 gated out; of {0, 100, 101, 102} (same fingerprint) exactly one survives.
    assert 200 not in got
    dup_group = {0, 100, 101, 102}
    assert len(got & dup_group) == 1
    assert set(range(1, 8)) <= got


def test_streaming_near_dup_gated_corpus_ingest(spark, tmp_path):
    """The continuous twin of dedup_incremental_delta: a file stream of
    documents flows through foreachBatch near-dup admission — each
    micro-batch dedups against the accumulated signature STORE (bands
    parquet, the write-once state) and within itself (leader-keeps),
    and only admitted docs extend the store. Batch replay is a no-op."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        ingest_batch,
        start_dedup_ingest,
    )

    # 12-token docs; a near-dup differs in the last token ->
    # 3-gram Jaccard 9/11 ~= 0.818 >= 0.5. Distinct docs share no vocab.
    def doc(seed, tweak=None):
        words = [f"w{seed}x{k}" for k in range(12)]
        if tweak is not None:
            words[-1] = f"tw{tweak}"
        return " ".join(words)

    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    # wave 1: docs 0-4 distinct, doc 10 near-dups doc 0 (leader keeps 0)
    wave1 = [(i, doc(i)) for i in range(5)] + [(10, doc(0, tweak=1))]
    spark.createDataFrame(wave1, "doc_id long, text string").write.parquet(
        src_dir, mode="append"
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    q = start_dedup_ingest(stream, store, ckpt)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == {0, 1, 2, 3, 4}

    # wave 2: doc 20 near-dups STORED doc 3 (rejected against the bands
    # store); doc 21 is fresh (admitted)
    wave2 = [(20, doc(3, tweak=9)), (21, doc(21))]
    spark.createDataFrame(wave2, "doc_id long, text string").write.parquet(
        src_dir, mode="append"
    )
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    q2 = start_dedup_ingest(stream2, store, ckpt)
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == {0, 1, 2, 3, 4, 21}

    # replay: re-running an already-applied batch changes nothing, and
    # the bands store stays consistent with the docs store
    batch = spark.createDataFrame(wave2, "doc_id long, text string")
    ingest_batch(batch, store)
    stored_after = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored_after == stored
    band_ids = {r["doc_id"] for r in spark.read.parquet(store + "/bands").collect()}
    assert band_ids == stored


def test_corpus_store_compaction_preserves_admissions(spark, tmp_path):
    """Store maintenance for the near-dup-gated ingest: 20 micro-batches
    fragment docs/ and bands/ into O(batches) part files; compact_store
    rewrites both to a bounded file count (<= target per band, hive
    band partitioning preserved) WITHOUT changing a single admission
    decision — a 21st batch rejects a near-dup of a doc stored in batch
    2 and admits a fresh doc, and replaying it is still a no-op."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        compact_store,
        ingest_batch,
    )

    def doc(seed, tweak=None):
        words = [f"c{seed}q{k}" for k in range(12)]
        if tweak is not None:
            words[-1] = f"tw{tweak}"
        return " ".join(words)

    store = str(tmp_path / "store")
    for b in range(20):
        rows = [(b * 10, doc(b * 10)), (b * 10 + 1, doc(b * 10 + 1))]
        ingest_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), store
        )
    expected = {b * 10 + k for b in range(20) for k in (0, 1)}
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == expected

    # 20 appended batches -> >= 20 files in docs/ and per-band fragmentation
    def files_under(d):
        return [
            os.path.join(r, f)
            for r, _dirs, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    assert len(files_under(store + "/docs")) >= 20
    rewritten = compact_store(spark, store, target_files=2)
    assert rewritten == {"docs": 40, "bands": 40 * 16}
    assert len(files_under(store + "/docs")) <= 2
    band_dirs = [
        e for e in os.listdir(store + "/bands") if e.startswith("band=")
    ]
    assert len(band_dirs) == 16
    for bd in band_dirs:
        assert len(files_under(os.path.join(store + "/bands", bd))) <= 2
    # content identical after the rewrite
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == expected
    bands_df = spark.read.parquet(store + "/bands")
    assert {r["doc_id"] for r in bands_df.collect()} == expected
    assert bands_df.count() == 40 * 16

    # 21st batch against the compacted store: near-dup of stored doc 10
    # (batch 2's leader) rejected, fresh doc admitted, replay a no-op.
    wave = [(900, doc(10, tweak=7)), (901, doc(901))]
    batch = spark.createDataFrame(wave, "doc_id long, text string")
    ingest_batch(batch, store)
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == expected | {901}
    ingest_batch(batch, store)  # replay
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    } == expected | {901}
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/bands").collect()
    } == expected | {901}


def test_auto_compaction_trigger_bounds_file_growth(spark, tmp_path):
    """The round-11 self-enforcing bounded-growth trigger: with
    auto_compact_files set low, ingest_batch compacts INSIDE the batch
    once the store's part-file count crosses the threshold — no
    operator action, no epoch cadence — and admissions are unchanged
    (a near-dup of an early-stored doc still rejects, replay is still
    a no-op). The control store (trigger disabled) fragments into
    O(batches) files; the triggered store stays bounded."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        _store_part_files,
        ingest_batch,
    )

    def doc(seed, tweak=None):
        words = [f"a{seed}w{k}" for k in range(12)]
        if tweak is not None:
            words[-1] = f"tw{tweak}"
        return " ".join(words)

    def run(store, **kw):
        for b in range(5):
            rows = [(b * 10, doc(b * 10)), (b * 10 + 1, doc(b * 10 + 1))]
            ingest_batch(
                spark.createDataFrame(rows, "doc_id long, text string"),
                store, **kw,
            )

    control = str(tmp_path / "control")
    run(control, auto_compact_files=None)
    auto = str(tmp_path / "auto")
    run(auto, auto_compact_files=40, auto_compact_target_files=2)

    assert _store_part_files(control) > 60  # O(batches) fragmentation
    # bounded: one batch's appends past a compacted floor of <= 2 per
    # component dir (docs + 16 band dirs), never O(batches)
    assert _store_part_files(auto) < 60
    expected = {b * 10 + k for b in range(5) for k in (0, 1)}
    assert {
        r["doc_id"] for r in spark.read.parquet(auto + "/docs").collect()
    } == expected

    # admissions unchanged on the auto-compacted store
    wave = [(900, doc(10, tweak=3)), (901, doc(901))]
    batch = spark.createDataFrame(wave, "doc_id long, text string")
    ingest_batch(batch, auto, auto_compact_files=40,
                 auto_compact_target_files=2)
    stored = {
        r["doc_id"] for r in spark.read.parquet(auto + "/docs").collect()
    }
    assert stored == expected | {901}
    ingest_batch(batch, auto, auto_compact_files=40,
                 auto_compact_target_files=2)  # replay no-op
    assert {
        r["doc_id"] for r in spark.read.parquet(auto + "/docs").collect()
    } == expected | {901}


def test_half_compacted_store_fails_loudly(spark, tmp_path):
    """A compaction crash between the two swap renames leaves
    ``docs.compact.tmp`` without ``docs`` — ingest_batch must refuse
    with a recovery hint, never treat the store as empty and re-admit
    duplicates; the prescribed one-rename recovery then restores the
    store with every admission intact."""
    import pytest

    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        ingest_batch,
    )

    store = str(tmp_path / "store")
    rows = [(k, " ".join(f"hx{k}w{j}" for j in range(12))) for k in range(4)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    ingest_batch(batch, store)
    docs = os.path.join(store, "docs")

    # simulate the mid-swap crash: live renamed aside, tmp never swapped in
    os.rename(docs, docs + ".compact.tmp")
    with pytest.raises(RuntimeError, match="half-compacted"):
        ingest_batch(batch, store)
    # the prescribed recovery, then ingest works and replay is a no-op
    os.rename(docs + ".compact.tmp", docs)
    ingest_batch(batch, store)
    stored = {r["doc_id"] for r in spark.read.parquet(docs).collect()}
    assert stored == {0, 1, 2, 3}


def test_half_compacted_store_refuses_compaction_too(spark, tmp_path):
    """compact_store must enforce the same loud-refusal invariant as
    ingest_batch: on a half-compacted store (bands.compact.tmp present,
    bands absent) its isdir() guards would otherwise silently skip the
    missing live dir and the next compaction's overwrite could clobber
    the only surviving copy in the tmp dir."""
    import pytest

    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        compact_store,
        ingest_batch,
    )

    store = str(tmp_path / "store")
    rows = [(k, " ".join(f"hc{k}w{j}" for j in range(12))) for k in range(4)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    ingest_batch(batch, store)
    bands = os.path.join(store, "bands")

    os.rename(bands, bands + ".compact.tmp")
    with pytest.raises(RuntimeError, match="half-compacted"):
        compact_store(spark, store)
    # prescribed recovery, then compaction proceeds losslessly
    os.rename(bands + ".compact.tmp", bands)
    rewritten = compact_store(spark, store)
    assert rewritten["docs"] == 4 and rewritten["bands"] > 0


def test_dedup_ingest_inline_compaction_cadence(spark, tmp_path):
    """start_dedup_ingest(auto_compact_files=0) runs store maintenance
    from inside the serial foreachBatch loop: after the stream drains,
    the band partitions hold <= auto_compact_target_files files, and a
    second wave still dedups correctly against the compacted store."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        start_dedup_ingest,
    )

    def doc(seed, tweak=None):
        words = [f"ic{seed}z{k}" for k in range(12)]
        if tweak is not None:
            words[-1] = f"tw{tweak}"
        return " ".join(words)

    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [(i, doc(i)) for i in range(4)], "doc_id long, text string"
    ).write.parquet(src_dir, mode="append")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    q = start_dedup_ingest(stream, store, ckpt, auto_compact_files=0,
                           auto_compact_target_files=1)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    for bd in os.listdir(store + "/bands"):
        if bd.startswith("band="):
            fs = [f for f in os.listdir(os.path.join(store, "bands", bd))
                  if f.endswith(".parquet")]
            assert len(fs) <= 1, (bd, fs)

    # wave 2 against the compacted store: near-dup of stored doc 1
    # rejected, fresh doc admitted
    spark.createDataFrame(
        [(50, doc(1, tweak=3)), (51, doc(51))], "doc_id long, text string"
    ).write.parquet(src_dir, mode="append")
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    q2 = start_dedup_ingest(stream2, store, ckpt, auto_compact_files=0,
                            auto_compact_target_files=1)
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == {0, 1, 2, 3, 51}


def test_corpus_ingest_repairs_crash_orphaned_band_index(spark, tmp_path):
    """The text plane's docs-then-bands crash window, healed: a crash
    between the two appends leaves admitted docs unindexed, and replay
    used to anti-join them away forever (their near-dups were then
    admitted). Every batch now starts by re-shingling docs rows missing
    from bands/, so the next ingest rejects a near-dup of the orphaned
    doc and the stores re-converge."""
    import shutil

    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        ingest_batch,
        repair_band_index,
    )

    def doc(seed, tweak=None):
        words = [f"w{seed}x{k}" for k in range(12)]
        if tweak is not None:
            words[-1] = f"tw{tweak}"
        return " ".join(words)

    store = str(tmp_path / "store")
    wave1 = spark.createDataFrame(
        [(0, doc(0)), (1, doc(1))], "doc_id long, text string"
    )
    ingest_batch(wave1, store)
    shutil.rmtree(store + "/bands")  # crash state: docs written, bands not

    # near-dup of orphaned doc 0 — without repair it would be admitted
    wave2 = spark.createDataFrame(
        [(10, doc(0, tweak=7)), (11, doc(11))], "doc_id long, text string"
    )
    ingest_batch(wave2, store)
    stored = {r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()}
    assert stored == {0, 1, 11}
    band_ids = {r["doc_id"] for r in spark.read.parquet(store + "/bands").collect()}
    assert band_ids == stored  # index re-converged with the docs store

    assert repair_band_index(spark, store) == 0  # healthy: cheap no-op


def _host_doc(seed: int, n: int = 60) -> str:
    return " ".join(f"w{seed}x{k}" for k in range(n))


def _excerpt_of(seed: int, lo: int = 20, hi: int = 32) -> str:
    return " ".join(f"w{seed}x{k}" for k in range(lo, hi))


def test_corpus_excerpt_gate_end_to_end(spark, tmp_path):
    """The text twin of the media excerpt tier: with ``excerpt_tau``
    set, `ingest_batch` ALSO rejects a doc whose winnowing
    fingerprints are already stored — the quote/chunk-re-upload class
    whole-document MinHash is structurally blind to (the blindness
    control proves a PLAIN store admits the same excerpt). Directional
    (a new host containing a stored doc is admitted), leader-keeps
    within a batch, replay a no-op, compaction admission-invariant."""
    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        compact_store,
        ingest_batch,
    )

    schema = "doc_id long, text string"

    # Blindness control: PLAIN gate admits a 12-of-60-word excerpt
    # (3-gram Jaccard ~10/58 << 0.5).
    plain = str(tmp_path / "plain")
    ingest_batch(
        spark.createDataFrame([(0, _host_doc(0))], schema), plain
    )
    ingest_batch(
        spark.createDataFrame([(100, _excerpt_of(0))], schema), plain
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(plain + "/docs").collect()
    } == {0, 100}

    # Excerpt-aware store: same waves, excerpt REJECTED.
    store = str(tmp_path / "store")
    ingest_batch(
        spark.createDataFrame(
            [(0, _host_doc(0)), (1, _host_doc(1))], schema
        ),
        store,
        excerpt_tau=0.8,
    )
    wave2 = [
        (100, _excerpt_of(0)),            # excerpt of stored 0 -> reject
        (101, _host_doc(2)),              # fresh host -> admit
        # new host CONTAINING stored doc 1's words (directional: admit)
        (102, _host_doc(1) + " " + _host_doc(3)),
        # in-batch host+excerpt pair: lower-id host admitted,
        # higher-id excerpt rejected (leader-keeps)
        (103, _host_doc(4)),
        (104, _excerpt_of(4)),
    ]
    ingest_batch(
        spark.createDataFrame(wave2, schema), store, excerpt_tau=0.8
    )
    stored = {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    }
    assert stored == {0, 1, 101, 102, 103}
    # every admitted doc is fingerprint-indexed (presence discipline)
    wfp_ids = {
        r["doc_id"] for r in spark.read.parquet(store + "/wfps").collect()
    }
    assert wfp_ids == stored

    # replay of wave2 is a no-op
    ingest_batch(
        spark.createDataFrame(wave2, schema), store, excerpt_tau=0.8
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    } == stored

    # compaction rewrites docs/bands/wfps without changing admissions
    out = compact_store(spark, store, target_files=1)
    assert out["wfps"] > 0
    ingest_batch(
        spark.createDataFrame(
            [(200, _excerpt_of(1)), (201, _host_doc(5))], schema
        ),
        store,
        excerpt_tau=0.8,
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    } == stored | {201}


def test_corpus_excerpt_mode_contract_and_repair(spark, tmp_path):
    """The store-lifetime contract, text plane: a plain store refuses
    an excerpt-aware batch loudly; `set_gate_mode` is the
    deliberate switch, after which the repair pass backfills wfps/
    from docs/ text (so previously-stored content starts rejecting its
    excerpts); a vanished wfps/ heals the same way on the next batch."""
    import pytest as _pytest

    from hridaya_steam_market_tracker_spark.streaming.corpus_ingest import (
        ingest_batch,
        repair_corpus_wfps_index,
        set_gate_mode,
    )

    schema = "doc_id long, text string"
    store = str(tmp_path / "store")
    ingest_batch(spark.createDataFrame([(0, _host_doc(0))], schema), store)

    # mixed-mode refusal, both directions
    with _pytest.raises(ValueError, match="mixed-mode"):
        ingest_batch(
            spark.createDataFrame([(1, _host_doc(1))], schema),
            store,
            excerpt_tau=0.8,
        )
    # deliberate upgrade: repair backfills wfps for the stored doc...
    set_gate_mode(store, "excerpt")
    assert repair_corpus_wfps_index(spark, store) > 0
    # ...and a pre-upgrade doc's excerpt is now rejected
    ingest_batch(
        spark.createDataFrame([(2, _excerpt_of(0))], schema),
        store,
        excerpt_tau=0.8,
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    } == {0}
    # ...and plain ingest now refuses
    with _pytest.raises(ValueError, match="mixed-mode"):
        ingest_batch(spark.createDataFrame([(3, _host_doc(3))], schema), store)

    # crash-orphan healing: lose wfps/ entirely -> next batch repairs
    # it from docs/ before admitting anything
    import shutil as _shutil

    _shutil.rmtree(store + "/wfps")
    ingest_batch(
        spark.createDataFrame([(4, _excerpt_of(0))], schema),
        store,
        excerpt_tau=0.8,
    )
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/docs").collect()
    } == {0}
    assert {
        r["doc_id"] for r in spark.read.parquet(store + "/wfps").collect()
    } == {0}
