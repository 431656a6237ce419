"""The four benchmark workloads and their correctness checks.

Each workload function takes a `Run` (session, tracer, inputs, clock) and
returns a `Result`: the latencies of its unit operations, the count of
operations attempted and failed, and the figures it prints. Correctness is
checked after the timed region of each run.

- backfill: closed loop of wire batches, pricehistory interleaved with the
  three snapshot streams, from an empty sink (the write path at full speed).
- serve:    one closed-loop client reading a sink that set-up built through
  the ingest path (the read path, write layers idle).
- live:     the engine's PollingSource drives seeded polls as an open loop;
  each tick is normalized, appended and routed to subscribers, while a
  second thread runs the serve mix against the growing sink.
- catalog:  passes over registered queries on the shared sf0.1 fixtures
  (the only workload where `operators.*` do the work).
"""

from __future__ import annotations

import gc
import json
import os
import random
import shutil
import threading
import time
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql import types as T

from catalog_oracle import FIXTURES, QUERIES as CATALOG_QUERIES
from catalog_oracle import digest, expected_digest, fixtures_intact
from gen import Params, Traffic, expected_frames, hour_time
from spans import TAIL_PCT, Tracer, median, percentile

from hridaya_steam_market_tracker_spark import schemas
from hridaya_steam_market_tracker_spark.sources import wire
from hridaya_steam_market_tracker_spark.sources.fetcher import (
    PollingSource,
    RetryableFetchError,
    fetch_with_retry_schedule,
)
from hridaya_steam_market_tracker_spark.storage.layout import write_partitioned
from hridaya_steam_market_tracker_spark.streaming.ingest import idempotent_append
from hridaya_steam_market_tracker_spark.streaming.push import latest_per_key, route_batch
from hridaya_steam_market_tracker_spark.streaming.ratelimiter import SlidingWindowRateLimiter
from hridaya_steam_market_tracker_spark.streaming.scheduler import PollScheduler

_IDENTITY = [
    T.StructField("appid", T.IntegerType()),
    T.StructField("market_hash_name", T.StringType()),
    T.StructField("item_nameid", T.LongType()),
    T.StructField("country", T.StringType()),
    T.StructField("language", T.StringType()),
]
WIRE = {
    "pricehistory": T.StructType(list(schemas.WIRE_PRICEHISTORY.fields) + _IDENTITY),
    "priceoverview": T.StructType(list(schemas.WIRE_PRICEOVERVIEW.fields) + _IDENTITY),
    "histogram": T.StructType(list(schemas.WIRE_HISTOGRAM.fields) + _IDENTITY),
    "activity": T.StructType(list(schemas.WIRE_ACTIVITY.fields) + _IDENTITY),
}
NORMALIZE = {
    "pricehistory": wire.normalize_pricehistory,
    "priceoverview": wire.normalize_priceoverview,
    "histogram": wire.normalize_histogram,
    "activity": wire.normalize_activity,
}
SNAPSHOT_TRUTH_COLS = {
    "priceoverview": ("market_hash_name", "currency", "lowest_price", "median_price", "volume"),
    "histogram": ("market_hash_name", "currency", "highest_buy_order", "lowest_sell_order",
                  "buy_order_count", "sell_order_count"),
    "activity": ("market_hash_name", "currency", "activity_count"),
}
SNAPSHOTS = ("priceoverview", "histogram", "activity")
_ROW = {"priceoverview": "overview", "histogram": "histogram", "activity": "activity"}  # gen methods

# Workload sizes. Wire rows per batch and sink sizes are fixed; the seed
# varies names, locales, prices, malformed points and request order.
BACKFILL = dict(items=40, group=20, hours=24 * 365)
SERVE = dict(items=40, hours=24 * 30)
LIVE = dict(items=24, hours=24 * 10, poll_window=24, polls_per_s=8.0)
SUBSCRIBED = 0.75   # share of items with at least one subscriber
READ_SHAPES = ("latest1", "recent200", "history7d", "rollup1d")
DASHBOARD_SHAPES = ("e1_latest_per_key", "d6_volatility_per_key", "w5_sliding_window_6h_1h")


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str           # scratch directory of this run, inside the checkout


@dataclass
class Result:
    latencies_s: list[float]            # per unit operation, in completion order
    attempted: int
    failed: int
    throughput: float                   # work per second, as each workload defines it
    memory_mb: float                    # memory_mb() at the end of the timed region
    report: dict = field(default_factory=dict)   # workload figures, by name: (value, unit)
    layer: dict = field(default_factory=dict)    # per-layer figures, by name: value
    errors: list[str] = field(default_factory=list)
    # Per-operation median and tail, when not those of latencies_s.
    p50_s: float | None = None
    tail_s: float | None = None

    def op_p50_s(self) -> float:
        return self.p50_s if self.p50_s is not None else median(self.latencies_s)

    def op_tail_s(self) -> float:
        return self.tail_s if self.tail_s is not None else percentile(self.latencies_s, TAIL_PCT)


def memory_mb(spark) -> float:
    """Memory the run holds now: this process's resident set plus the
    driver JVM's heap in use after full collections (the JVM's resident set
    moves by 10-30% between runs with the timing of collections). Sampled at
    the end of each timed region, before any check runs."""
    gc.collect()   # release Python's handles on JVM objects
    with open("/proc/self/statm") as fh:
        rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    # Collect until the heap in use stops falling: each collection lets
    # Spark's ContextCleaner drop the broadcasts and shuffles of plans it
    # finds unreachable, and the next frees them. After a single collection
    # the heap in use moved by up to 100 MB between runs.
    used = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        prev, used = used, rt.totalMemory() - rt.freeMemory()
        if prev - used < 2**20:
            break
    return (rss + used) / 2**20


# ---------------------------------------------------------------- ingest path
def to_df(run: Run, stream: str, rows: list[dict], req: str | None = None):
    schema = WIRE[stream]
    names = schema.fieldNames()
    with run.tracer.span("sources.wire.to_df", req):
        return run.spark.createDataFrame([tuple(r[n] for n in names) for r in rows], schema)


def ingest(run: Run, stream: str, rows: list[dict], sinks: dict, req: str | None = None):
    """Wire rows -> normalized rows -> sink. Returns the normalized DataFrame."""
    raw = to_df(run, stream, rows, req)
    with run.tracer.span("sources.wire.normalize", req, spark_jobs=False):
        norm = NORMALIZE[stream](raw)
    if stream == "pricehistory":
        with run.tracer.span("streaming.ingest.append", req):
            idempotent_append(norm, sinks[stream])
    else:
        with run.tracer.span("storage.layout.write", req):
            write_partitioned(norm, sinks[stream], time_col="timestamp")
    return norm


def sink_paths(base: str) -> dict:
    if os.path.isdir(base):
        shutil.rmtree(base)
    return {s: os.path.join(base, s) for s in WIRE}


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def storage_stats(path: str, rows: int, batches: int) -> dict:
    """Layout of a sink that `batches` writes built, `rows` rows in all."""
    files = parts = size = 0
    for d, _, fs in os.walk(path):
        data = [f for f in fs if f.endswith(".parquet")]
        files += len(data)
        parts += bool(data)
        size += sum(os.path.getsize(os.path.join(d, f)) for f in data)
    return {"storage.files_per_batch": ratio(files, batches),
            "storage.files_per_partition": ratio(files, parts),
            "storage.bytes_per_row": ratio(size, rows)}


def check_history_sink(run: Run, traffic: Traffic, path: str,
                       truth: set[tuple[str, datetime]]) -> list[str]:
    """The sink holds exactly the truth key set, once each, with the
    generated price for every key."""
    rows = run.spark.read.parquet(path).select("market_hash_name", "time", "price").collect()
    keys = Counter((r[0], r[1]) for r in rows)
    errors = []
    dups = sum(1 for c in keys.values() if c > 1)
    if dups:
        errors.append(f"history sink: {dups} duplicate keys")
    if set(keys) != truth:
        errors.append(f"history sink: {len(set(keys) - truth)} unexpected keys, "
                      f"{len(truth - set(keys))} missing keys")
    bad = sum(1 for r in rows
              if r[2] != traffic.price(traffic.item(r[0]), _hour(r[1])))
    if bad:
        errors.append(f"history sink: {bad} rows with a wrong price")
    return errors


def _hour(t: datetime) -> int:
    return round((t - hour_time(0)).total_seconds() / 3600)


# ---------------------------------------------------------------- backfill
def backfill_setup(run: Run) -> dict:
    """A fresh sink and one pricehistory batch into it."""
    traffic = Traffic(run.seed + 1, Params(items=4))
    sinks = sink_paths(os.path.join(run.work, "backfill_warm"))
    ingest(run, "pricehistory", [traffic.history_row(it, 0, 96) for it in traffic.items], sinks)
    return {"traffic": traffic, "sinks": sinks}


def warm_backfill(run: Run, state: dict) -> None:
    """Untimed: the anti-join over a non-empty sink, routing and the snapshot
    streams, twice with the four streams side by side."""
    traffic, sinks = state["traffic"], state["sinks"]
    _, subs = subscriptions(run, traffic, run.seed)

    def history(rep):
        rows = [traffic.history_row(it, 48 * rep, 48 * rep + 96) for it in traffic.items]
        route(run, ingest(run, "pricehistory", rows, sinks), subs, "warm")

    def snapshot(stream, rep):
        ingest(run, stream, [getattr(traffic, f"{_ROW[stream]}_row")(it, rep)
                             for it in traffic.items], sinks)

    for rep in (1, 2):
        in_parallel([lambda: history(rep)] + [lambda s=s: snapshot(s, rep) for s in SNAPSHOTS])


def subscriptions(run: Run, traffic: Traffic, seed: int) -> tuple[dict, object]:
    """Seeded subscribers (one to three) for a share of the items, as a
    {name: [subscriber ids]} map and the engine's subscriptions DataFrame."""
    rng = random.Random(seed ^ 0x5EED)
    subscribers, sid = {}, 0
    for it in traffic.items:
        if rng.random() < SUBSCRIBED:
            subscribers[it.name] = list(range(sid, sid + rng.randint(1, 3)))
            sid += len(subscribers[it.name])
    subs = run.spark.createDataFrame(
        [(n, "pricehistory", s) for n, ids in subscribers.items() for s in ids],
        "market_hash_name string, stream string, subscriber_id int")
    return subscribers, subs


def route(run: Run, norm, subs, req: str) -> tuple[float, list]:
    """Route a stored pricehistory batch to its subscribers; returns the
    emission time and the frames."""
    emitted = []
    routed = norm.select("market_hash_name", F.lit("pricehistory").alias("stream"), "time",
                         F.col("price").alias("value"))
    with run.tracer.span("streaming.push.route", req):
        route_batch(routed, subs, lambda fr: emitted.append((time.monotonic(), fr)))
    return emitted[0]


def frame_tuples(frames: list) -> set:
    """Emitted frames as (subscriber, name, time, value), the form of
    gen.expected_frames."""
    got = set()
    for fr in frames:
        f = json.loads(fr["frame"])
        t = datetime.fromisoformat(f["data"]["time"].replace("Z", "+00:00")).replace(tzinfo=None)
        got.add((fr["subscriber_id"], f["name"], t, f["data"]["value"]))
    return got


def backfill(run: Run, state: dict) -> Result:
    """Closed loop from an empty sink. The engine's PollingSource picks what
    to fetch, on a simulated clock so the order of batches is the same on
    every run: pricehistory every other batch, the snapshot streams in turn
    between them. Fetches go through the archival retry ladder (injected
    retryable failures are retried, not failed). Each operation normalizes
    and stores one stream's batch; a pricehistory batch is also routed to
    its subscribers, as every append is on the change feed."""
    traffic = Traffic(run.seed, Params(items=BACKFILL["items"]))
    group = BACKFILL["group"]
    windows = {it.name: traffic.history_windows(it, 0, BACKFILL["hours"]) for it in traffic.items}
    sinks = sink_paths(os.path.join(run.work, "backfill"))
    subscribers, subs = subscriptions(run, traffic, run.seed)

    now = [0.0]
    scheduler = PollScheduler()
    # Blocks of `group` items fall due together, one block every 0.25 s of
    # simulated time: pricehistory every 1.0 s per group, each snapshot
    # stream every 3.0 s per group, staggered so the batches run
    # pricehistory, priceoverview, pricehistory, histogram, pricehistory,
    # activity, ... from the start.
    groups = [traffic.items[g:g + group] for g in range(0, len(traffic.items), group)]
    for g, members in enumerate(groups):
        phases = [("pricehistory", 1.0, 0.5 * g)]
        phases += [(s, 3.0, 0.25 + 0.5 * (3 * g + k)) for k, s in enumerate(SNAPSHOTS)]
        for stream, interval, first_due in phases:
            for it in members:
                scheduler.upsert((it.name, stream), interval)
                scheduler.record_success((it.name, stream), first_due - interval)
    polls, attempts, retries = Counter(), Counter(), [0]

    def fetch_once(key):
        name, stream = key
        item = traffic.item(name)
        attempts[key] += 1
        if traffic.fetch_fails(item, attempts[key]):
            retries[0] += 1
            raise RetryableFetchError("injected 503")
        n = polls[key]
        polls[key] += 1
        if stream == "pricehistory":
            s, e = windows[name][n]
            return {**traffic.history_row(item, s, e), "_truth": (s, e)}
        return {**getattr(traffic, f"{_ROW[stream]}_row")(item, n), "_truth": n}

    source = PollingSource(
        fetch_fn=lambda key: fetch_with_retry_schedule(lambda: fetch_once(key),
                                                       sleep=lambda _s: None),
        scheduler=scheduler,
        limiter=SlidingWindowRateLimiter(10 * len(traffic.items), 1.0, clock=lambda: now[0]),
        clock=lambda: now[0])

    ph_truth: set = set()
    snap_truth = {s: Counter() for s in SNAPSHOTS}
    by_stream: dict[str, list[float]] = defaultdict(list)
    offered: Counter = Counter()   # wire rows, by stream
    attempted = rows_in = rows_out = stored_rows = keys_read = 0
    frames_n = affected = 0
    keys_routed: set = set()
    errors: list[str] = []
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    n = 0
    while time.perf_counter() < deadline:
        now[0] += source.sleep_until_next()
        with run.tracer.span("sources.fetcher.tick", f"t{n}", spark_jobs=False):
            batches = source.tick()
        for stream, rows in batches.items():
            if time.perf_counter() >= deadline:
                break
            req, n = f"b{n}", n + 1
            attempted += 1
            start = time.perf_counter()
            try:
                with run.tracer.span(f"backfill.{stream}", req, spark_jobs=False):
                    wire_rows = [{k: v for k, v in r.items() if k != "_truth"} for r in rows]
                    norm = ingest(run, stream, wire_rows, sinks, req)
                    if stream == "pricehistory":
                        _, frames = route(run, norm, subs, req)
            except Exception as err:  # a failed batch is counted, the loop goes on
                errors.append(f"backfill batch {req} ({stream}): {err!r}"[:300])
                continue
            by_stream[stream].append(time.perf_counter() - start)
            offered[stream] += sum(len(r["prices"]) for r in rows) if stream == "pricehistory" \
                else len(rows)
            if stream != "pricehistory":
                for r in rows:
                    item = traffic.item(r["market_hash_name"])
                    snap_truth[stream][getattr(traffic, f"{_ROW[stream]}_truth")(item, r["_truth"])] += 1
                continue
            polled = {}
            for r in rows:
                item, (s, e) = traffic.item(r["market_hash_name"]), r["_truth"]
                ph_truth |= traffic.history_keys(item, s, e)
                rows_in += e - s
                good = max(h for h in range(s, e) if not traffic.malformed(item, h))
                polled[item.name] = (hour_time(good), traffic.price(item, good))
            want = expected_frames(polled, subscribers)
            got = frame_tuples(frames)
            if got != want:
                errors.append(f"backfill frames {req}: {len(got - want)} unexpected, "
                              f"{len(want - got)} missing")
            frames_n += len(frames)
            affected += len(polled)
            keys_routed |= {f[1] for f in got}
            if run.tracer.enabled:  # these counts cost Spark jobs: traced run only
                with run.tracer.span("bench.count", req, spark_jobs=False):
                    rows_out += norm.count()
                    keys_read += stored_rows  # the anti-join rereads every stored key
                    stored_rows = run.spark.read.parquet(sinks[stream]).count()
    mem = memory_mb(run.spark)

    errors += check_history_sink(run, traffic, sinks["pricehistory"], ph_truth)
    for s in SNAPSHOTS:
        if not snap_truth[s]:
            continue
        got = Counter(tuple(r) for r in run.spark.read.parquet(sinks[s])
                      .select(*SNAPSHOT_TRUTH_COLS[s]).collect())
        if got != snap_truth[s]:
            errors.append(f"{s} sink: {sum((got - snap_truth[s]).values())} unexpected rows, "
                          f"{sum((snap_truth[s] - got).values())} missing rows")

    # Wire rows per second over the plan's stream mix (pricehistory half the
    # batches, each snapshot stream a sixth), from each stream's mean batch
    # time: unlike rows over wall time, it does not jump with the stream of
    # the batch that happens to end the run.
    share = {"pricehistory": 0.5, **{s: 1 / 6 for s in SNAPSHOTS}}
    seen = [s for s in share if by_stream[s]]
    rows_per_s = (sum(share[s] * offered[s] / len(by_stream[s]) for s in seen)
                  / sum(share[s] * sum(by_stream[s]) / len(by_stream[s]) for s in seen)
                  if seen else 0.0)
    # Latency percentiles over pricehistory batches alone: a mix of streams
    # costing 1 s to 4 s a batch would put the median on a stream boundary.
    lat = by_stream["pricehistory"]
    res = Result(lat, attempted, min(len(errors), attempted), rows_per_s, mem, errors=errors)
    res.report["ingest_rows_per_s"] = (rows_per_s, "rows/s")
    for s in seen:
        res.report[f"{s}_batch_p50_s"] = (median(by_stream[s]), "s")
    if lat:
        res.report["ingest_batch_tail_s"] = (percentile(lat, TAIL_PCT), "s")
    res.report["polls"] = (sum(polls.values()), "count")
    res.report["frames"] = (frames_n, "count")
    res.report["keys_routed"] = (len(keys_routed), "count")
    # Layer figures are ratios, so they do not grow with the number of
    # batches a faster engine gets through in the run.
    res.layer.update({
        "sources.fetcher.retries_per_poll": ratio(retries[0], sum(polls.values())),
        "streaming.push.frames_per_affected_key": ratio(frames_n, affected),
    })
    if run.tracer.enabled:
        res.layer.update({
            "sources.wire.malformed_per_row": ratio(rows_in - rows_out, rows_in),
            "streaming.ingest.useful_frac": ratio(stored_rows, rows_in),
            "streaming.ingest.stored_keys_per_fresh_row": ratio(keys_read, stored_rows),
        })
        res.layer.update(storage_stats(sinks["pricehistory"], len(ph_truth),
                                       len(by_stream["pricehistory"])))
    return res


# ---------------------------------------------------------------- serve
def build_history_sink(run: Run, traffic: Traffic, hours: int, path: str) -> set:
    """Set-up: store every item's history [0, hours) through the ingest path
    in one append to an empty sink; returns the stored key set."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    ingest(run, "pricehistory", [traffic.history_row(it, 0, hours) for it in traffic.items],
           {"pricehistory": path})
    return set().union(*(traffic.history_keys(it, 0, hours) for it in traffic.items))


def read_shape(run: Run, shape: str, path: str, name: str | None, end: datetime, req: str):
    """One request; returns the collected answer as plain tuples."""
    with run.tracer.span(f"serve.{shape}.build", req):
        df = run.spark.read.parquet(path)
        if name is not None:
            df = df.filter(F.col("market_hash_name") == name)
        df = df.select("market_hash_name", "time", "price")
        if shape == "latest1":
            q = latest_per_key(df, ["market_hash_name"], "time").select("time", "price")
        elif shape == "recent200":
            q = df.orderBy(F.col("time").desc()).limit(200).select("time", "price")
        elif shape == "history7d":
            q = df.filter((F.col("time") >= F.lit(end - timedelta(days=7)))
                          & (F.col("time") < F.lit(end))).select("time", "price")
        elif shape == "rollup1d":
            q = df.groupBy(F.to_date("time").alias("day")).agg(
                F.count(F.lit(1)).alias("n"), F.round(F.avg("price"), 6).alias("avg"),
                F.min("price").alias("lo"), F.max("price").alias("hi"))
        elif shape == "e1_latest_per_key":
            q = latest_per_key(df, ["market_hash_name"], "time")
        elif shape == "d6_volatility_per_key":
            now = df.agg(F.max("time").alias("now_ts"))
            q = (df.crossJoin(F.broadcast(now))
                 .filter(F.col("time") >= F.col("now_ts") - F.expr("INTERVAL 7 DAYS"))
                 .groupBy("market_hash_name")
                 .agg(F.round(F.min("price"), 6).alias("lo"), F.round(F.max("price"), 6).alias("hi"),
                      F.round(F.avg("price"), 6).alias("avg"),
                      F.round((F.max("price") - F.min("price")) / F.avg("price") * 100, 6)
                      .alias("vol")))
        else:  # w5_sliding_window_6h_1h
            q = (df.groupBy(F.window("time", "6 hours", "1 hour").alias("w"))
                 .agg(F.count(F.lit(1)).alias("n")).select(F.col("w.start"), "n"))
    with run.tracer.span(f"serve.{shape}.exec", req):
        return [tuple(r) for r in q.collect()]


def serve_mix(traffic: Traffic, rng: random.Random):
    """Endless request stream: blocks of ten, eight per-item reads (two of each
    shape, Zipf-chosen items) and two whole-market dashboard reads, shuffled
    within the block so every run has the same mix."""
    d = 0
    while True:
        block = [(s, traffic.zipf_item(rng).name) for s in READ_SHAPES * 2]
        block += [(DASHBOARD_SHAPES[(d + k) % 3], None) for k in range(2)]
        d += 2
        rng.shuffle(block)
        yield from block


class HistoryTruth:
    """Expected answers of the read shapes over a {(name, time): price} map."""

    def __init__(self, points: dict, end: datetime):
        self.points = points
        self.end = end
        self.series = defaultdict(list)
        for (name, t), p in sorted(points.items()):
            self.series[name].append((t, p))

    def answer(self, shape: str, name: str | None):
        s = self.series.get(name, []) if name else None
        if shape == "latest1":
            return [s[-1]]
        if shape == "recent200":
            return list(reversed(s[-200:]))
        if shape == "history7d":
            lo = self.end - timedelta(days=7)
            return [x for x in s if lo <= x[0] < self.end]
        if shape == "rollup1d":
            days = defaultdict(list)
            for t, p in s:
                days[t.date()].append(p)
            return [(d, len(v), round(sum(v) / len(v), 6), min(v), max(v)) for d, v in days.items()]
        if shape == "e1_latest_per_key":
            return [(n, v[-1][0], v[-1][1]) for n, v in self.series.items()]
        if shape == "d6_volatility_per_key":
            now = max(t for _, t in self.points)
            lo = now - timedelta(days=7)
            out = []
            for n, v in self.series.items():
                w = [p for t, p in v if t >= lo]
                if w:
                    avg = sum(w) / len(w)
                    out.append((n, round(min(w), 6), round(max(w), 6), round(avg, 6),
                                round((max(w) - min(w)) / avg * 100, 6)))
            return out
        counts = Counter()
        for _, t in self.points:
            for k in range(6):
                counts[t - timedelta(hours=k)] += 1
        return list(counts.items())


def same_answer(got: list, want: list) -> bool:
    """Order-insensitive equality, floats to 1e-6 (round(avg, 6) may differ in
    the last place between summation orders)."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=repr), sorted(want, key=repr)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if abs(x - y) > 1e-6 * max(1.0, abs(y)):
                    return False
            elif x != y:
                return False
    return True


def run_reads(run: Run, path: str, traffic: Traffic, end: datetime, deadline: float,
              rng: random.Random, tag: str):
    """Closed-loop client: issue the serve mix until the deadline. Returns
    [(shape, name, latency_s, answer or exception)]."""
    out = []
    for n, (shape, name) in enumerate(serve_mix(traffic, rng)):
        if time.perf_counter() >= deadline:
            break
        start = time.perf_counter()
        try:
            ans = read_shape(run, shape, path, name, end, f"{tag}{n}")
        except Exception as err:  # counted as a failed request
            ans = err
        out.append((shape, name, time.perf_counter() - start, ans))
    return out


def serve_setup(run: Run) -> dict:
    traffic = Traffic(run.seed, Params(items=SERVE["items"]))
    path = os.path.join(run.work, "serve_sink")
    truth = build_history_sink(run, traffic, SERVE["hours"], path)
    return {"traffic": traffic, "path": path, "truth": truth}


def serve(run: Run, state: dict) -> Result:
    traffic, path = state["traffic"], state["path"]
    end = hour_time(SERVE["hours"])
    points = {k: traffic.price(traffic.item(k[0]), _hour(k[1])) for k in state["truth"]}
    truth = HistoryTruth(points, end)
    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    reads = run_reads(run, path, traffic, end, t0 + run.seconds, rng, "r")
    elapsed = time.perf_counter() - t0
    mem = memory_mb(run.spark)
    errors = []
    for shape, name, _, ans in reads:
        if isinstance(ans, Exception):
            errors.append(f"serve {shape}({name}): {ans!r}"[:300])
        elif not same_answer(ans, truth.answer(shape, name)):
            errors.append(f"serve {shape}({name}): answer differs from the ground truth")
    res = Result([r[2] for r in reads], len(reads), len(errors), len(reads) / elapsed, mem,
                 errors=errors)
    _read_report(res, reads)
    if run.tracer.enabled:  # set-up wrote the sink in one append
        res.layer.update(storage_stats(path, len(points), 1))
    return res


def _read_report(res: Result, reads: list) -> None:
    lat = [r[2] for r in reads]
    if lat:
        res.report["read_p50_ms"] = (median(lat) * 1e3, "ms")
        res.report["read_tail_ms"] = (percentile(lat, TAIL_PCT) * 1e3, "ms")
    res.report["reads"] = (len(lat), "count")


# ---------------------------------------------------------------- live
def live_setup(run: Run) -> dict:
    traffic = Traffic(run.seed, Params(items=LIVE["items"]))
    path = os.path.join(run.work, "live_sink")
    truth = build_history_sink(run, traffic, LIVE["hours"], path)
    rng = random.Random(run.seed ^ 0x1A7E)
    # Seeded intervals within a factor of two, scaled so every seed offers
    # the same total poll rate.
    raw = {it.name: rng.uniform(1.0, 2.0) for it in traffic.items}
    scale = sum(1.0 / v for v in raw.values()) / LIVE["polls_per_s"]
    intervals = {name: v * scale for name, v in raw.items()}
    subscribers, subs = subscriptions(run, traffic, run.seed)
    return {"traffic": traffic, "path": path, "truth": truth, "intervals": intervals,
            "subscribers": subscribers, "subs": subs}


def offered_rate(state: dict) -> float:
    return sum(1.0 / v for v in state["intervals"].values())


def live(run: Run, state: dict) -> Result:
    """Open loop: polls come due on each item's interval whether or not the
    engine kept up. Freshness runs from a poll's due time to the emission of
    its subscriber frames; a reader thread runs the serve mix meanwhile."""
    traffic, path = state["traffic"], state["path"]
    window = LIVE["poll_window"]
    scheduler = PollScheduler()
    for name, interval in state["intervals"].items():
        scheduler.upsert((name, "pricehistory"), interval)
    # Limiter sized to twice the offered load over a 10 s window: it bounds
    # bursts after a stall without throttling the steady rate.
    limiter = SlidingWindowRateLimiter(max(1, round(2 * offered_rate(state) * 10)), 10.0)
    polls_ok, attempts = Counter(), Counter()
    fetched = []     # (name, due_at, fetched_at, newest hour)
    t_start = time.monotonic()

    def fetch(key):
        name, _ = key
        s = scheduler.items[key]   # still the pre-poll state: tick records after the fetch
        due = t_start if s.last_update is None else s.last_update + s.interval
        if s.skip_until is not None:
            due = max(due, s.skip_until)
        item = traffic.item(name)
        attempts[name] += 1
        if traffic.fetch_fails(item, attempts[name]):
            raise RetryableFetchError("injected 429")
        hour = LIVE["hours"] + polls_ok[name]
        polls_ok[name] += 1
        fetched.append((name, due, time.monotonic(), hour))
        return traffic.history_row(item, hour + 1 - window, hour + 1)

    source = PollingSource(fetch_fn=fetch, scheduler=scheduler, limiter=limiter)
    t0 = time.perf_counter()
    deadline = time.monotonic() + run.seconds
    reads: list = []
    errors: list[str] = []
    reader = threading.Thread(
        target=lambda: reads.extend(run_reads(
            run, path, traffic, hour_time(LIVE["hours"]), t0 + run.seconds,
            random.Random(run.seed), "l")),
        name="live-reader")
    reader.start()
    ticks = []       # (emit time, frames, polls of the tick)
    retries = refused = 0
    try:
        while (now := time.monotonic()) < deadline:
            wait = source.sleep_until_next()
            if wait > 0:
                time.sleep(min(wait, deadline - now))
                continue
            due_n = len(scheduler.due(time.monotonic()))
            fails_before, first = sum(attempts.values()) - sum(polls_ok.values()), len(fetched)
            req = f"t{len(ticks)}"
            with run.tracer.span("sources.fetcher.tick", req, spark_jobs=False):
                batches = source.tick()
            fails = sum(attempts.values()) - sum(polls_ok.values()) - fails_before
            polls = fetched[first:]
            retries += fails
            refused += max(0, due_n - len(polls) - fails)
            if not polls:
                continue
            try:
                norm = ingest(run, "pricehistory", batches["pricehistory"],
                              {"pricehistory": path}, req)
                emit_t, frames = route(run, norm, state["subs"], req)
            except Exception as err:  # a failed tick is counted, the loop goes on
                errors.append(f"live tick {req}: {err!r}"[:300])
                emit_t, frames = time.monotonic(), []
            ticks.append((emit_t, frames, polls))
    finally:
        reader.join(timeout=150)
    elapsed = time.perf_counter() - t0
    mem = memory_mb(run.spark)

    # ---- correctness, outside the timed region
    stored = {k: traffic.price(traffic.item(k[0]), _hour(k[1])) for k in state["truth"]}
    fresh, lag, overdue, frames_n, affected, keys_routed = [], [], 0, 0, 0, set()
    for emit_t, frames, polls in ticks:
        polled = {}
        for name, due, fetched_at, hour in polls:
            item = traffic.item(name)
            good = [h for h in range(hour + 1 - window, hour + 1) if not traffic.malformed(item, h)]
            for h in good:
                stored[(name, hour_time(h))] = traffic.price(item, h)
            polled[name] = (hour_time(good[-1]), traffic.price(item, good[-1]))
            if name in state["subscribers"]:
                fresh.append(emit_t - due)
            lag.append(fetched_at - due)
            overdue += fetched_at - due > state["intervals"][name]
        affected += len(polled)
        got = frame_tuples(frames)
        keys_routed |= {f[1] for f in got}
        frames_n += len(frames)
        want = expected_frames(polled, state["subscribers"])
        if got != want:
            errors.append(f"live frames: {len(got - want)} unexpected, {len(want - got)} missing")
    errors += check_history_sink(run, traffic, path, set(stored))
    for shape, name, _, ans in reads:
        if isinstance(ans, Exception):
            errors.append(f"live read {shape}({name}): {ans!r}"[:300])
        elif not _consistent(shape, name, ans, stored):
            errors.append(f"live read {shape}({name}): a row disagrees with the ground truth")
    if reader.is_alive():
        errors.append("live reader did not finish")

    n_polls = len(fetched)
    attempted = n_polls + len(reads)
    res = Result(fresh, attempted, min(len(errors), attempted), len(reads) / elapsed, mem,
                 errors=errors)
    if fresh:
        res.report["freshness_p50_s"] = (median(fresh), "s")
        res.report["freshness_tail_s"] = (percentile(fresh, TAIL_PCT), "s")
    if lag:
        res.report["generator_lag_s"] = (median(lag), "s")
    res.report["offered_polls_per_s"] = (offered_rate(state), "1/s")
    res.report["delivered_polls_per_s"] = (n_polls / elapsed, "1/s")
    res.report["frames"] = (frames_n, "count")
    res.report["keys_routed"] = (len(keys_routed), "count")
    _read_report(res, reads)
    res.layer.update({
        "sources.fetcher.retries_per_poll": ratio(retries, n_polls),
        "streaming.ratelimiter.refused_per_poll": ratio(refused, n_polls),
        "streaming.scheduler.overdue_frac": ratio(overdue, n_polls),
        "streaming.push.frames_per_affected_key": ratio(frames_n, affected),
    })
    if run.tracer.enabled:  # set-up's append, then one per tick
        res.layer.update(storage_stats(path, len(stored), 1 + len(ticks)))
    return res


def _consistent(shape: str, name: str | None, ans: list, stored: dict) -> bool:
    """A read racing appends has no single exact answer; every point it
    returns must still be a stored point carrying its generated price."""
    if shape in ("latest1", "recent200", "history7d"):
        return bool(ans) and all(stored.get((name, t)) == p for t, p in ans)
    if shape == "e1_latest_per_key":
        return all(stored.get((n, t)) == p for n, t, p in ans)
    return bool(ans)


# ---------------------------------------------------------------- catalog
def catalog_setup(run: Run) -> dict:
    from hridaya_steam_market_tracker_spark.queries import load_all

    return {"registry": load_all()}


def run_query(run: Run, registry: dict, name: str, req: str) -> None:
    """fn(spark, dir) plus a `noop` write, so work done while the plan is
    built counts."""
    with run.tracer.span(f"queries.{name}.build", req):
        df = registry[name].fn(run.spark, FIXTURES)
    with run.tracer.span(f"queries.{name}.exec", req):
        df.write.format("noop").mode("overwrite").save()


def catalog(run: Run, state: dict) -> Result:
    """Passes over the query list, each in a seeded order. The first pass
    always completes; after it the run stops at the first query boundary
    past the deadline, so later queries may have one run fewer."""
    registry = state["registry"]
    rng = random.Random(run.seed)
    times = defaultdict(list)   # seconds of each successful run, by query
    attempted = failed = passes = 0
    errors: list[str] = []
    t0 = time.perf_counter()
    deadline = t0 + run.seconds
    while passes == 0 or time.perf_counter() < deadline:
        order = list(CATALOG_QUERIES)
        rng.shuffle(order)
        for name in order:
            if passes and time.perf_counter() >= deadline:
                break
            attempted += 1
            start = time.perf_counter()
            try:
                run_query(run, registry, name, f"p{passes}")
            except Exception as err:  # counted, the pass goes on
                failed += 1
                errors.append(f"catalog {name}: {err!r}"[:300])
                continue
            times[name].append(time.perf_counter() - start)
        passes += 1
    elapsed = time.perf_counter() - t0
    mem = memory_mb(run.spark)

    for name, err in check_catalog(run, registry):
        errors.append(f"catalog {name}: {err}"[:300])
        failed += len(times[name])  # every timed run of it gave a wrong answer
    # The unit is a pass, assembled from each query's own median (and tail):
    # queries cost 0.5 s to 2 s each, so a percentile over the mix would sit
    # on a query boundary, and a run holds too few whole passes for their
    # median.
    pass_p50 = sum(median(v) for v in times.values())
    pass_tail = sum(percentile(v, TAIL_PCT) for v in times.values())
    runs = sum(len(v) for v in times.values())
    res = Result([x for v in times.values() for x in v], attempted, min(failed, attempted),
                 ratio(len(times), pass_p50), mem, errors=errors,
                 p50_s=pass_p50, tail_s=pass_tail)
    res.report["catalog_pass_s"] = (pass_p50, "s")
    res.report["query_runs"] = (runs, "count")
    res.report["queries_per_s"] = (runs / elapsed, "1/s")
    for name in CATALOG_QUERIES:
        if times[name]:
            res.report[f"{name}_p50_s"] = (median(times[name]), "s")
    return res


def check_catalog(run: Run, registry: dict) -> list[tuple[str, str]]:
    """Hash-match every query's answer against its DuckDB oracle's
    (catalog_oracle.py); returns (query, message) for each mismatch."""
    changed = fixtures_intact()
    if changed:
        return [(name, f"fixture files differ from SHA256SUMS: {changed}")
                for name in CATALOG_QUERIES]

    def check(name):
        try:
            got = registry[name].fn(run.spark, FIXTURES).toPandas()
            if digest(got) != expected_digest(name, registry[name].oracle):
                return name, f"answer ({len(got)} rows) differs from the oracle's"
        except Exception as err:
            return name, f"check failed: {err!r}"
        return None

    with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        return [e for e in pool.map(check, CATALOG_QUERIES) if e]


# ---------------------------------------------------------------- warm-up
# Warm-up only compiles code paths (JIT, Spark codegen); it runs them on a
# few threads at once because cold compilation, not data, is its cost.
def in_parallel(jobs: list) -> None:
    with ThreadPoolExecutor(max_workers=min(len(jobs), os.cpu_count() or 1)) as pool:
        for fut in [pool.submit(job) for job in jobs]:
            fut.result()


def warm_reads(run: Run, state: dict) -> None:
    """One untimed request of every read shape."""
    name = state["traffic"].items[0].name
    in_parallel([lambda s=s: read_shape(run, s, state["path"], name, hour_time(0), "warm")
                 for s in READ_SHAPES]
                + [lambda s=s: read_shape(run, s, state["path"], None, hour_time(0), "warm")
                   for s in DASHBOARD_SHAPES])


def warm_live(run: Run, state: dict) -> None:
    rows = run.spark.read.parquet(state["path"]).limit(50).select(
        "market_hash_name", F.lit("pricehistory").alias("stream"), "time",
        F.col("price").alias("value"))
    in_parallel([lambda: warm_reads(run, state),
                 lambda: route_batch(rows, state["subs"], lambda frames: None)])


def warm_catalog(run: Run, state: dict) -> None:
    """Untimed: one pass cold in parallel (each query plans and compiles on
    its first run), then one in turn."""
    registry = state["registry"]
    for _ in range(2):
        in_parallel([lambda n=n: run_query(run, registry, n, "warm") for n in CATALOG_QUERIES])


WORKLOADS = {
    # name: (set-up, untimed warm-up, timed measurement)
    "backfill": (backfill_setup, warm_backfill, backfill),
    "serve": (serve_setup, warm_reads, serve),
    "live": (live_setup, warm_live, live),
    "catalog": (catalog_setup, warm_catalog, catalog),
}
