"""End-to-end market pipeline over the golden wire samples
(reference data/dataExamples.txt): wire -> normalize (§G/§H) -> layout
write -> read-path queries + the reference's four sanity invariants.

This is SURVEY.md §7's "minimum end-to-end slice": the reference chain
steamAPIclient -> SQLinserts -> api/main reproduced as composed
DataFrame transforms.
"""

from __future__ import annotations

import datetime
import time

from pyspark.sql import Row, functions as F

from hridaya_steam_market_tracker_spark.operators.invariants import (
    activity_count_sanity,
    histogram_book_sanity,
    overview_price_sanity,
    table_meta,
)
from hridaya_steam_market_tracker_spark.sources.wire import (
    normalize_activity,
    normalize_histogram,
    normalize_priceoverview,
    normalize_pricehistory,
)
from hridaya_steam_market_tracker_spark.storage.layout import (
    apply_retention,
    compact_partition,
    list_partitions,
    write_partitioned,
)
from hridaya_steam_market_tracker_spark.streaming.ingest import idempotent_append

IDENT = {
    "appid": 730,
    "market_hash_name": "Sticker | Test (Holo)",
    "item_nameid": 176321160,
    "country": "US",
    "language": "english",
}

ACTIVITY_HTML = (
    '<div class="market_activity_line_item ellipsis">\n'
    '\t<span class="market_activity_cell market_activity_price ">\n\t\t$1.17\t</span>\n'
    '\t<span class="market_activity_action">Purchased</span>\n</div>\n'
)


def test_priceoverview_normalization(spark):
    raw = spark.createDataFrame(
        [Row(success=True, lowest_price="0,03€", median_price="0,01€", volume="435", **IDENT)]
    )
    row = normalize_priceoverview(raw).collect()[0]
    assert row["lowest_price"] == 0.03
    assert row["median_price"] == 0.01
    assert row["volume"] == 435
    assert row["currency"] == "EUR"
    # the golden sample IS a sanity violation (lowest > median) — the
    # invariant catches it, as check_live_tables.sql intends
    viol = overview_price_sanity(normalize_priceoverview(raw))
    assert viol.count() == 1


def _histogram_raw(spark):
    from pyspark.sql import types as T

    from hridaya_steam_market_tracker_spark import schemas

    wire_schema = T.StructType(
        list(schemas.WIRE_HISTOGRAM.fields)
        + [
            T.StructField("appid", T.IntegerType()),
            T.StructField("market_hash_name", T.StringType()),
            T.StructField("item_nameid", T.LongType()),
            T.StructField("country", T.StringType()),
            T.StructField("language", T.StringType()),
        ]
    )
    return spark.createDataFrame(
        [
            {
                "success": 1,
                "buy_order_count": "2",
                "sell_order_count": "0",
                "buy_order_table": [{"price": "0,03€", "quantity": "2"}],
                "sell_order_table": None,
                "buy_order_graph": [["0.03", "2", "2 buy orders at 0,03€ or higher"]],
                "sell_order_graph": [],
                "highest_buy_order": "3",  # minor units on the wire
                "lowest_sell_order": None,
                "price_suffix": "€",
                **IDENT,
            }
        ],
        wire_schema,
    )


def test_histogram_normalization_split_brain(spark):
    raw = _histogram_raw(spark)
    row = normalize_histogram(raw).collect()[0]
    # THE split-brain rule: scalar minor units /100, nested strings preserved
    assert row["highest_buy_order"] == 0.03
    assert row["lowest_sell_order"] is None
    assert row["buy_order_table"][0]["price"] == "0,03€"
    assert row["buy_order_graph"][0]["price"] == 0.03
    assert row["buy_order_graph"][0]["cum_qty"] == 2
    assert row["buy_order_count"] == 2
    assert row["currency"] == "EUR"
    assert histogram_book_sanity(normalize_histogram(raw)).count() == 0


def test_activity_normalization(spark):
    raw = spark.createDataFrame(
        [Row(success=1, activity=[ACTIVITY_HTML, ACTIVITY_HTML], timestamp=1681576662, **IDENT)]
    )
    row = normalize_activity(raw).collect()[0]
    assert row["activity_count"] == 2
    assert len(row["parsed_activities"]) == 2
    e = row["parsed_activities"][0]
    assert e["price"] == "1.17" and e["currency"] == "USD" and e["action"] == "Purchased"
    assert e["timestamp"] == datetime.datetime(2023, 4, 15, 16, 37, 42)
    assert row["currency"] == "USD"
    assert activity_count_sanity(normalize_activity(raw)).count() == 0


def _history_raw(spark, prices):
    return spark.createDataFrame(
        [Row(success=True, price_prefix="", price_suffix="€", prices=prices, **IDENT)]
    )


def test_history_end_to_end_slice(spark, tmp_path):
    """Golden pricehistory -> parse -> partitioned sink -> range read;
    re-ingest is idempotent (C7+A7); retention + compaction lifecycle."""
    sink = str(tmp_path / "price_history")
    prices = [
        ["Jul 02 2014 01: +0", "283.697", "2"],
        ["May 19 2020 01: +0", "1621.348", "1"],
        ["Mar 16 2023 01: +0", "1662.859", "1"],
        ["not a date", "1.0", "1"],  # malformed -> dropped
    ]
    normalized = normalize_pricehistory(_history_raw(spark, prices))
    assert normalized.count() == 3
    first = normalized.orderBy("time").collect()[0]
    assert first["time"] == datetime.datetime(2014, 7, 2, 1, 0)
    assert first["price"] == 283.697 and first["volume"] == 2 and first["currency"] == "EUR"

    # idempotent ingest: second pass of an overlapping fetch adds only new points
    idempotent_append(normalized, sink)
    again = normalize_pricehistory(
        _history_raw(spark, prices + [["Aug 13 2020 01: +0", "1625.398", "1"]])
    )
    idempotent_append(again, sink)
    stored = spark.read.parquet(sink)
    assert stored.count() == 4

    # read path: GET /history?range=... == filter(name) + time range + order
    series = (
        stored.filter(F.col("market_hash_name") == IDENT["market_hash_name"])
        .filter(F.col("time") >= "2020-01-01")
        .orderBy("time")
        .collect()
    )
    assert [r["price"] for r in series] == [1621.348, 1625.398, 1662.859]


def test_layout_retention_and_compaction(spark, tmp_path):
    sink = str(tmp_path / "overview")
    rows = [
        Row(time=datetime.datetime(2024, 1, d, 12, 0), market_hash_name=f"item{i}", value=float(i))
        for d in (1, 2, 3)
        for i in range(5)
    ]
    write_partitioned(spark.createDataFrame(rows), sink)
    assert [p.isoformat() for p in list_partitions(sink)] == ["2024-01-01", "2024-01-02", "2024-01-03"]

    dropped = apply_retention(sink, keep_days=30, today=datetime.date(2024, 2, 1))
    assert [p.isoformat() for p in dropped] == ["2024-01-01"]
    remaining = spark.read.parquet(sink)
    assert remaining.count() == 10  # partition drop, no row rewrites elsewhere

    n = compact_partition(spark, sink, datetime.date(2024, 1, 2), key_col="market_hash_name", time_col="time")
    assert n == 5
    assert spark.read.parquet(sink).count() == 10  # lossless rewrite


def test_half_compacted_partition_fails_loudly(spark, tmp_path):
    """A compact_partition crash between the two swap renames leaves
    ``date=X.compact.tmp`` without its live partition dir. Table-level
    readers (list_partitions) and further compactions must refuse with
    a recovery hint — never silently lose the partition's rows — and
    the prescribed one-rename recovery restores the table intact."""
    import os

    import pytest

    sink = str(tmp_path / "overview")
    rows = [
        Row(time=datetime.datetime(2024, 1, d, 12, 0), market_hash_name=f"item{i}", value=float(i))
        for d in (1, 2)
        for i in range(5)
    ]
    write_partitioned(spark.createDataFrame(rows), sink)

    # simulate the mid-swap crash on the 2024-01-02 partition
    live = os.path.join(sink, "date=2024-01-02")
    os.rename(live, live + ".compact.tmp")
    with pytest.raises(RuntimeError, match="half-compacted"):
        list_partitions(sink)
    with pytest.raises(RuntimeError, match="half-compacted"):
        compact_partition(spark, sink, datetime.date(2024, 1, 1), key_col="market_hash_name", time_col="time")
    # prescribed recovery, then the table reads whole again
    os.rename(live + ".compact.tmp", live)
    assert [p.isoformat() for p in list_partitions(sink)] == ["2024-01-01", "2024-01-02"]
    assert spark.read.parquet(sink).count() == 10


def test_compaction_orphan_states_cleaned_or_guided(spark, tmp_path):
    """The two other rename-aside crash states must never surface as a
    raw date.fromisoformat ValueError (both start with 'date='):

    * ``date=X.compact.old`` ALONGSIDE live (crash between the second
      rename and the rmtree) — live is the compacted result; READERS
      skip the superseded copy WITHOUT deleting it (a reader racing a
      live compaction must never rmtree the writer's in-flight tmp);
      the next WRITER (compact_partition) finishes the interrupted
      swap.
    * ``date=X.compact.tmp`` ALONGSIDE live (crash before the first
      rename) — live is authoritative; readers skip the stale tmp,
      the next writer removes it.
    * ``date=X.compact.old`` WITHOUT live or tmp — the pre-compaction
      copy is the only data left: refuse with the restoring rename.
    """
    import os
    import shutil

    import pytest

    sink = str(tmp_path / "overview")
    rows = [
        Row(time=datetime.datetime(2024, 1, d, 12, 0), market_hash_name=f"item{i}", value=float(i))
        for d in (1, 2)
        for i in range(5)
    ]
    write_partitioned(spark.createDataFrame(rows), sink)
    live = os.path.join(sink, "date=2024-01-02")

    # old alongside live: reader skips it READ-ONLY; writer cleans it
    shutil.copytree(live, live + ".compact.old")
    assert [p.isoformat() for p in list_partitions(sink)] == ["2024-01-01", "2024-01-02"]
    assert os.path.isdir(live + ".compact.old")  # reader left it alone
    compact_partition(spark, sink, datetime.date(2024, 1, 1))
    assert not os.path.isdir(live + ".compact.old")  # writer finished the swap

    # tmp alongside live: reader skips it READ-ONLY; writer cleans it.
    # During the crash-orphan window a partition-value-filtered read
    # (how every in-package reader scans these tables) stays exact —
    # the orphan dir's inferred value '2024-01-02.compact.tmp' matches
    # no real date string.
    shutil.copytree(live, live + ".compact.tmp")
    assert [p.isoformat() for p in list_partitions(sink)] == ["2024-01-01", "2024-01-02"]
    assert os.path.isdir(live + ".compact.tmp")  # reader left it alone
    assert (
        spark.read.parquet(sink)
        .filter(F.col("date").isin(["2024-01-01", "2024-01-02"]))
        .count()
        == 10
    )
    compact_partition(spark, sink, datetime.date(2024, 1, 1))
    assert not os.path.isdir(live + ".compact.tmp")

    # old without live or tmp: guided refusal naming the restoring rename
    os.rename(live, live + ".compact.old")
    with pytest.raises(RuntimeError, match="only data left"):
        list_partitions(sink)
    os.rename(live + ".compact.old", live)

    # mid-swap state (old + tmp, no live): the tmp recovery must win —
    # the message prescribes renaming the COMPACTED copy, not the old one
    shutil.copytree(live, live + ".compact.old")
    os.rename(live, live + ".compact.tmp")
    with pytest.raises(RuntimeError, match=r"compact\.tmp' exists without"):
        list_partitions(sink)
    os.rename(live + ".compact.tmp", live)
    # the leftover old is skipped by reads and cleaned by the next writer
    assert [p.isoformat() for p in list_partitions(sink)] == ["2024-01-01", "2024-01-02"]
    assert os.path.isdir(live + ".compact.old")
    compact_partition(spark, sink, datetime.date(2024, 1, 1))
    assert not os.path.isdir(live + ".compact.old")
    assert spark.read.parquet(sink).count() == 10


def test_table_meta(spark):
    raw = spark.createDataFrame(
        [Row(success=True, lowest_price="$5.00", median_price="$5.50", volume="10", **IDENT)]
    )
    meta = table_meta(normalize_priceoverview(raw)).collect()[0]
    assert meta["n_rows"] == 1 and meta["currencies"] == ["USD"]

def test_refresh_daily_rollup_partition_scoped(spark, tmp_path):
    """Continuous-aggregate analog: a late event refreshes ONLY its
    date partition — values recomputed from base truth, untouched
    partitions' files byte-identical."""
    import os

    from hridaya_steam_market_tracker_spark.storage.layout import (
        refresh_daily_rollup,
        write_partitioned,
    )

    base = str(tmp_path / "base")
    rollup = str(tmp_path / "rollup")
    rows = [
        ("itemA", "2024-01-01 10:00:00", 10.0),
        ("itemA", "2024-01-02 10:00:00", 20.0),
        ("itemB", "2024-01-02 11:00:00", 30.0),
        ("itemA", "2024-01-03 10:00:00", 40.0),
    ]
    df = spark.createDataFrame(
        rows, "market_hash_name string, time string, price double"
    ).withColumn("time", F.to_timestamp("time"))
    write_partitioned(df, base)
    refreshed = refresh_daily_rollup(spark, base, rollup, df)
    assert [d.isoformat() for d in refreshed] == [
        "2024-01-01", "2024-01-02", "2024-01-03",
    ]

    def files_for(day: str) -> dict[str, float]:
        pdir = os.path.join(rollup, f"date={day}")
        return {
            f: os.path.getmtime(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    before_d1 = files_for("2024-01-01")
    before_d2 = files_for("2024-01-02")

    late = spark.createDataFrame(
        [("itemA", "2024-01-02 23:00:00", 100.0)],
        "market_hash_name string, time string, price double",
    ).withColumn("time", F.to_timestamp("time"))
    write_partitioned(late, base)
    refreshed2 = refresh_daily_rollup(spark, base, rollup, late)
    assert [d.isoformat() for d in refreshed2] == ["2024-01-02"]

    # Untouched partition: same files, same mtimes.
    assert files_for("2024-01-01") == before_d1
    # Touched partition: rewritten.
    assert files_for("2024-01-02") != before_d2

    got = {
        (r["market_hash_name"], str(r["date"])): (r["n_points"], r["avg_value"])
        for r in spark.read.parquet(rollup).collect()
    }
    assert got[("itemA", "2024-01-02")] == (2, round((20.0 + 100.0) / 2, 6))
    assert got[("itemA", "2024-01-01")] == (1, 10.0)
    assert got[("itemB", "2024-01-02")] == (1, 30.0)
    assert got[("itemA", "2024-01-03")] == (1, 40.0)


# ------------------------------------------------ per-poll normalizer cost
def _wire_raws(spark) -> dict:
    return {
        "priceoverview": spark.createDataFrame(
            [Row(success=True, lowest_price="0,03€", median_price="0,01€", volume="435", **IDENT)]
        ),
        "histogram": _histogram_raw(spark),
        "activity": spark.createDataFrame(
            [Row(success=1, activity=[ACTIVITY_HTML], timestamp=1681576662, **IDENT)]
        ),
        "pricehistory": _history_raw(spark, [["Jul 02 2014 01: +0", "283.697", "2"]]),
    }


NORMALIZERS = {
    "priceoverview": normalize_priceoverview,
    "histogram": normalize_histogram,
    "activity": normalize_activity,
    "pricehistory": normalize_pricehistory,
}
# Optimized-plan string length per normalizer. Each plan is linear in
# its rules (~5k, ~5k, ~6k, ~3k chars); the activity plan that parsed
# every price span inside a filter inside a re-parse ran to ~340k, and
# the priceoverview plan that re-embedded the 19-step symbol strip in
# every parse_steam_price branch to ~23k.
PLAN_CHAR_BOUNDS = {
    "priceoverview": 8_000,
    "histogram": 8_000,
    "activity": 20_000,
    "pricehistory": 5_000,
}


def _plan_chars(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_normalizer_plans_stay_linear(spark):
    from hridaya_steam_market_tracker_spark.functions.activity import (
        parse_activity_lines,
    )

    raws = _wire_raws(spark)
    for name, normalize in NORMALIZERS.items():
        # the select plan: a normalizer's output plans as a bare scan of
        # its local checkpoint (~200 chars), which would bound nothing
        chars = _plan_chars(normalize.__wrapped__(raws[name]))
        assert chars < PLAN_CHAR_BOUNDS[name], f"{name}: {chars} plan chars"
    lines = parse_activity_lines(raws["activity"], ts_col="timestamp")
    assert _plan_chars(lines) < PLAN_CHAR_BOUNDS["activity"]


def test_normalized_batch_is_one_value(spark, tmp_path):
    """Every action on a normalizer's output sees one execution of its
    input: a derived frame returns the same rows, ingest stamp included,
    and the stored rows and the routed frames of one pricehistory batch
    come from a single run of the caller's Python-backed source."""
    from hridaya_steam_market_tracker_spark.streaming.push import route_batch

    raws = _wire_raws(spark)
    for name, normalize in NORMALIZERS.items():
        norm = normalize(raws[name])
        first = norm.collect()
        time.sleep(0.01)
        assert norm.select("*").collect() == first, name

    sink = str(tmp_path / "price_history")
    idempotent_append(normalize_pricehistory(_history_raw(spark, [
        ["Jul 02 2014 01: +0", "283.697", "2"],
    ])), sink)
    runs = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(name):
        runs.add(1)
        return name

    raw = _history_raw(spark, [
        ["Jul 02 2014 01: +0", "283.697", "2"],  # already stored
        ["Jul 02 2014 02: +0", "284.0", "3"],
        ["May 19 2020 01: +0", "1621.348", "1"],
    ]).withColumn("market_hash_name", counted("market_hash_name"))
    norm = normalize_pricehistory(raw)
    idempotent_append(norm, sink)
    subs = spark.createDataFrame(
        [(IDENT["market_hash_name"], "pricehistory", 1)],
        "market_hash_name string, stream string, subscriber_id int",
    )
    frames = []
    route_batch(
        norm.select("market_hash_name", F.lit("pricehistory").alias("stream"), "time",
                    F.col("price").alias("value")),
        subs, frames.extend,
    )
    assert runs.value == 1  # one wire row, one execution
    assert len(frames) == 1 and '"value":1621.348' in frames[0]["frame"]
    stored = spark.read.parquet(sink).filter(F.year("time") == 2020).collect()
    assert [r["fetched_at"] for r in stored] == [
        r["fetched_at"] for r in norm.filter(F.year("time") == 2020).collect()
    ]
    assert spark.read.parquet(sink).count() == 3


def test_normalizers_build_columns_once(spark, monkeypatch):
    """A second call reuses the memoized select lists: no Column tree is
    rebuilt (every column builder is made to fail), and the output is
    still right. A changed gateway gets freshly built lists."""
    from pyspark import SparkContext

    from hridaya_steam_market_tracker_spark.sources import wire

    raws = _wire_raws(spark)
    first = {name: normalize(raws[name]).drop("timestamp", "fetched_at").collect()
             for name, normalize in NORMALIZERS.items()}
    built = {name: getattr(wire, f"_{name}_columns")() for name in NORMALIZERS}

    def rebuilt(*_a, **_k):
        raise AssertionError("normalizer columns rebuilt")

    for fn in ("extract_currency", "parse_steam_price", "parse_volume", "to_major_units",
               "activity_price", "extract_activity_action", "parse_steam_datetime",
               "unix_to_timestamp", "_ingest_ts"):
        monkeypatch.setattr(wire, fn, rebuilt)
    for name, normalize in NORMALIZERS.items():
        assert getattr(wire, f"_{name}_columns")() is built[name]
        again = normalize(raws[name]).drop("timestamp", "fetched_at").collect()
        assert again == first[name], name
    monkeypatch.undo()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert wire._priceoverview_columns() is not built["priceoverview"]
    monkeypatch.undo()
    # back on the live gateway: rebuilt once more, then memoized again
    live = wire._priceoverview_columns()
    assert wire._priceoverview_columns() is live
    assert normalize_priceoverview(raws["priceoverview"]).count() == 1


def _activity_line(*prices: str, action: str = "Purchased") -> str:
    spans = "".join(
        f'\t<span class="market_activity_cell market_activity_price ">\n\t\t{p}\t</span>\n'
        for p in prices
    )
    return (
        f'<div class="market_activity_line_item ellipsis">\n{spans}'
        f'\t<span class="market_activity_action">{action}</span>\n</div>\n'
    )


# (line, price, currency): the first span whose content parses wins
ACTIVITY_SPAN_CASES = [
    (_activity_line("", "0,85€"), 0.85, "EUR"),  # empty first span
    (_activity_line("Free", "£5.99"), 5.99, "GBP"),  # unparseable, then parseable
    (_activity_line(), None, None),  # no price span at all
    # '$' precedes 'R$'/'CDN$' in the G5 map: the '$' is stripped, the
    # rest ("R 5.00", "CDN 1.50") fails to parse, so the span is skipped
    (_activity_line("R$ 5,00", "CDN$ 1,50"), None, None),
    (_activity_line("CDN$ 1,50", "$1.17"), 1.17, "USD"),
]


def test_activity_span_cases_normalize_and_parse_lines(spark):
    from hridaya_steam_market_tracker_spark.functions.activity import (
        parse_activity_lines,
    )

    lines = [case[0] for case in ACTIVITY_SPAN_CASES]
    raw = spark.createDataFrame(
        [
            Row(success=1, activity=lines, timestamp=1681576662, **IDENT),
            # only unpriced lines: the row currency falls back to USD
            Row(success=1, activity=[lines[2], lines[3]], timestamp=1681576662, **IDENT),
        ]
    )
    rows = normalize_activity(raw).collect()
    entries = rows[0]["parsed_activities"]
    for entry, (_, price, currency) in zip(entries, ACTIVITY_SPAN_CASES):
        assert entry["price"] == (None if price is None else str(price))
        assert entry["currency"] == currency
        assert entry["action"] == "Purchased"
    assert [r["currency"] for r in rows] == ["EUR", "USD"]
    assert [r["activity_count"] for r in rows] == [len(lines), 2]

    exploded = (
        parse_activity_lines(raw.limit(1), ts_col="timestamp")
        .select("raw_html", "price", "currency", "action")
        .collect()
    )
    assert [(r["price"], r["currency"]) for r in exploded] == [
        (price, currency) for _, price, currency in ACTIVITY_SPAN_CASES
    ]
    assert [r["raw_html"] for r in exploded] == lines
