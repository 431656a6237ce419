"""Wire -> storage normalization per stream (SURVEY.md §3.1 step 4).

Input contract: a DataFrame of raw responses, one row per poll, with
the wire payload columns (schemas.WIRE_*) plus the per-item request
config (market_hash_name, appid, item_nameid, requested country /
language / currency-id) — the C1 broadcast enrichment having already
attached the config (the reference merges item_config the same way,
src/SQLinserts.py:386-402).

Each normalizer is a pure select over §G/§H column functions — no
Python in the data path; currency derivation follows the reference's
fallback chains (suffix -> price-string -> 'USD',
src/SQLinserts.py:384, 427, 474-479, 531).

Per-poll cost: the select lists are built once per process (once per
live JVM, see `_once_per_jvm`) — they hold only unresolved names,
literals and ``current_timestamp()`` — so a batch pays only
``raw.filter(..).select(*cols)``, its analysis, and one lazy local
checkpoint (`_computed_once`). Each activity price span is parsed once
(functions/activity.py `activity_price`), which keeps the activity
plan linear in the size of the G5 rules rather than nesting parses.

Each normalized batch is one value: the first action on it runs the
caller's input (for polled rows a ``createDataFrame`` over a Python
RDD, one Python-worker stage) and the select once and keeps the rows
as JVM blocks; every later action — the sink's anti-joined write, the
push routing — reads those blocks, and sees the same ingest stamp.
Spark's ContextCleaner frees the blocks at the first JVM garbage
collection after the caller drops the DataFrame, not at the drop itself.
Inputs are batch frames, not streams.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.functions.activity import (
    activity_price,
    extract_activity_action,
)
from hridaya_steam_market_tracker_spark.functions.datetimes import (
    parse_steam_datetime,
    unix_to_timestamp,
)
from hridaya_steam_market_tracker_spark.functions.prices import (
    extract_currency,
    parse_steam_price,
    parse_volume,
    to_major_units,
)

_IDENTITY = ["appid", "market_hash_name", "item_nameid", "country", "language"]

_T = TypeVar("_T")


def _once_per_jvm(build: Callable[[], _T]) -> Callable[[], _T]:
    """Memoize a normalizer's Column lists per live JVM.

    Columns are py4j handles into the JVM that built them, so the cache
    is keyed on the SparkContext's gateway: a relaunched gateway gets
    freshly built lists and no stale handle is ever reused. The lists
    are tuples, so no caller can change what the next one gets.
    """
    lock = threading.Lock()
    built: tuple[object, _T] | None = None

    @functools.wraps(build)
    def columns() -> _T:
        nonlocal built
        gateway = SparkContext._gateway
        with lock:
            if built is None or built[0] is not gateway:
                built = (gateway, build())
            return built[1]

    return columns


def _computed_once(
    build: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame], DataFrame]:
    """Wrap a normalizer's select so its output is computed at most once.

    ``localCheckpoint(eager=False)`` adds no job: the returned frame
    plans as a bare scan of the checkpoint's blocks, which the first
    action fills. The select plan itself stays reachable as
    ``normalize_*.__wrapped__``.
    """

    @functools.wraps(build)
    def normalize(raw: DataFrame) -> DataFrame:
        return build(raw).localCheckpoint(eager=False)

    return normalize


def _ingest_ts() -> F.Column:
    # server-side NOW() analog (A5); normalizers stamp at transform time
    return F.current_timestamp().alias("timestamp")


@_once_per_jvm
def _priceoverview_columns():
    currency = F.coalesce(
        extract_currency(F.col("lowest_price")),
        extract_currency(F.col("median_price")),
        F.lit("USD"),
    )
    return F.col("success"), (
        _ingest_ts(),
        *_IDENTITY,
        currency.alias("currency"),
        parse_steam_price(F.col("lowest_price")).alias("lowest_price"),
        parse_steam_price(F.col("median_price")).alias("median_price"),
        parse_volume(F.col("volume")).alias("volume"),
    )


@_computed_once
def normalize_priceoverview(raw: DataFrame) -> DataFrame:
    """priceoverview wire -> price_overview rows (src/SQLinserts.py:363-402).

    Currency: first symbol found in lowest_price, else median_price,
    else 'USD'.
    """
    keep, cols = _priceoverview_columns()
    return raw.filter(keep).select(*cols)


@_once_per_jvm
def _histogram_columns():
    first_table_price = F.try_element_at(F.col("buy_order_table"), F.lit(1))["price"]
    currency = F.coalesce(
        extract_currency(F.col("price_suffix")),
        extract_currency(first_table_price),
        F.lit("USD"),
    )
    graph_point = lambda g: F.transform(  # noqa: E731
        g,
        lambda p: F.struct(
            F.try_element_at(p, F.lit(1)).cast("double").alias("price"),
            F.try_element_at(p, F.lit(2)).cast("long").alias("cum_qty"),
            F.try_element_at(p, F.lit(3)).alias("label"),
        ),
    )
    return F.col("success") == 1, (
        _ingest_ts(),
        *_IDENTITY,
        currency.alias("currency"),
        F.col("buy_order_table"),
        F.col("sell_order_table"),
        graph_point(F.col("buy_order_graph")).alias("buy_order_graph"),
        graph_point(F.col("sell_order_graph")).alias("sell_order_graph"),
        parse_volume(F.col("buy_order_count")).alias("buy_order_count"),
        parse_volume(F.col("sell_order_count")).alias("sell_order_count"),
        to_major_units(F.col("highest_buy_order")).alias("highest_buy_order"),
        to_major_units(F.col("lowest_sell_order")).alias("lowest_sell_order"),
    )


@_computed_once
def normalize_histogram(raw: DataFrame) -> DataFrame:
    """itemordershistogram wire -> orders_histogram rows
    (src/SQLinserts.py:404-453).

    THE split-brain rule (SURVEY §7 hard-part #2): scalar best bid/ask
    arrive as separator-less MINOR-unit ints -> to_major_units; the
    nested order-table price strings stay locale-formatted (G1 applies
    only when reading them). Graph triples cast to typed points.
    Currency: price_suffix symbol -> first order-table price -> 'USD'.
    """
    keep, cols = _histogram_columns()
    return raw.filter(keep).select(*cols)


@_once_per_jvm
def _activity_columns():
    # price each line once, then shape the entries from that struct: a
    # lambda body gets no common-subexpression elimination, so reading
    # price and currency off one inline call would parse every line twice
    priced = F.transform(
        F.col("activity"),
        lambda h: F.struct(h.alias("html"), activity_price(h).alias("parsed")),
    )
    entry = lambda e: F.struct(  # noqa: E731
        e["parsed"]["price"].cast("string").alias("price"),
        e["parsed"]["currency"].alias("currency"),
        extract_activity_action(e["html"]).alias("action"),
        unix_to_timestamp(F.col("wire_ts")).alias("timestamp"),
        e["html"].alias("raw_html"),
    )
    parsed = (
        _ingest_ts(),
        *_IDENTITY,
        F.col("activity").alias("activity_raw"),
        F.transform(priced, entry).alias("parsed_activities"),
        F.size(F.col("activity")).cast("int").alias("activity_count"),
        F.col("wire_ts").alias("steam_timestamp"),
    )
    first_currency = F.try_element_at(
        F.filter(F.col("parsed_activities"), lambda e: e["currency"].isNotNull()),
        F.lit(1),
    )["currency"]
    ordered = (
        "timestamp",
        *_IDENTITY,
        F.coalesce(first_currency, F.lit("USD")).alias("currency"),
        "activity_raw",
        "parsed_activities",
        "activity_count",
        "steam_timestamp",
    )
    return F.col("success") == 1, parsed, ordered


@_computed_once
def normalize_activity(raw: DataFrame) -> DataFrame:
    """itemordersactivity wire -> orders_activity rows
    (src/SQLinserts.py:455-499 + parseActivityHTML_utility.py:101-133).

    The HTML array is parsed IN PLACE via higher-order functions — one
    typed ActivityEntry struct per line, count = array length (D10);
    currency fallback: first parsed entry's currency -> 'USD', read
    from the projected ``parsed_activities`` column by a second select
    (the optimizer does not re-inline a non-cheap column referenced
    twice, so the lines are parsed once).
    """
    keep, parsed, ordered = _activity_columns()
    # rename first: the storage column is also called "timestamp" and
    # Spark 4's lateral alias resolution would shadow the wire column
    raw = raw.withColumnRenamed("timestamp", "wire_ts")
    return raw.filter(keep).select(*parsed).select(*ordered)


@_once_per_jvm
def _pricehistory_columns():
    currency = F.coalesce(extract_currency(F.col("price_suffix")), F.lit("USD"))
    exploded = (
        *_IDENTITY,
        currency.alias("currency"),
        F.explode(F.col("prices")).alias("point"),
    )
    typed = (
        parse_steam_datetime(F.try_element_at(F.col("point"), F.lit(1))).alias("time"),
        *_IDENTITY,
        "currency",
        F.try_element_at(F.col("point"), F.lit(2)).cast("double").alias("price"),
        parse_volume(F.try_element_at(F.col("point"), F.lit(3))).alias("volume"),
        F.current_timestamp().alias("fetched_at"),
    )
    return F.col("success"), exploded, typed, F.col("time").isNotNull()


@_computed_once
def normalize_pricehistory(raw: DataFrame) -> DataFrame:
    """pricehistory wire -> price_history rows (src/SQLinserts.py:501-584).

    Explodes the positional [date_str, price, volume_str] triples into
    typed rows; malformed dates -> NULL time (dropped: they can never
    satisfy the (name, time) key). Currency from price_suffix -> 'USD'.
    The per-key HWM delta filter + idempotent append live in
    streaming/ingest.py (C7 + A7).
    """
    keep, exploded, typed, dated = _pricehistory_columns()
    return raw.filter(keep).select(*exploded).select(*typed).filter(dated)
