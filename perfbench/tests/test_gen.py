"""Tests of the benchmark's traffic generator and ground truth (no Spark).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import (  # noqa: E402
    _MALFORMED_DATES,
    Params,
    Traffic,
    expected_frames,
    format_price,
    hour_time,
    steam_date,
)


def test_same_seed_same_traffic_other_seed_differs():
    a, b, c = Traffic(7), Traffic(7), Traffic(8)
    assert a.items == b.items
    assert a.history_row(a.items[0], 0, 48) == b.history_row(b.items[0], 0, 48)
    assert a.overview_row(a.items[3], 2) == b.overview_row(b.items[3], 2)
    assert [it.name for it in a.items] != [it.name for it in c.items]


def test_locale_price_strings():
    assert format_price(3, "EUR") == "0,03€"
    assert format_price(123456, "EUR") == "1.234,56€"
    assert format_price(117, "USD") == "$1.17"
    assert format_price(123456, "USD") == "$1,234.56"
    assert format_price(250, "GBP") == "£2.50"
    assert format_price(123456, "INR") == "₹ 1,234.56"


def test_steam_date_format():
    assert steam_date(0) == "Jan 01 2024 00: +0"
    assert steam_date(24 * 31 + 5) == "Feb 01 2024 05: +0"


def _parse_locale(s: str) -> float:
    """Independent reading of the generator's own formats."""
    if s.endswith("€"):
        return float(s[:-1].replace(".", "").replace(",", "."))
    return float(s.lstrip("$£₹ ").replace(",", ""))


def test_snapshot_truth_matches_wire_strings():
    t = Traffic(3)
    for it in t.items:
        for n in range(5):
            row, want = t.overview_row(it, n), t.overview_truth(it, n)
            assert want[0] == it.name and want[1] == it.currency
            assert _parse_locale(row["lowest_price"]) == want[2]
            assert _parse_locale(row["median_price"]) == want[3]
            assert int(row["volume"].replace(",", "")) == want[4]
            hist, hwant = t.histogram_row(it, n), t.histogram_truth(it, n)
            assert int(hist["highest_buy_order"]) / 100 == hwant[2]
            assert int(hist["buy_order_count"]) == hwant[4]
            assert int(hist["sell_order_count"].replace(",", "")) == hwant[5]
            act = t.activity_row(it, n)
            assert len(act["activity"]) == t.activity_truth(it, n)[2]


def test_refetch_windows_overlap_and_cover():
    t = Traffic(1, Params(window=96, overlap=0.25))
    wins = t.history_windows(t.items[0], 0, 1000)
    assert wins[0] == (0, 96) and wins[-1][1] == 1000
    for (s0, e0), (s1, _) in zip(wins, wins[1:]):
        assert e0 - s1 == 24  # a quarter of each window is re-fetched
    covered = set()
    for s, e in wins:
        covered |= set(range(s, e))
    assert covered == set(range(1000))


def test_refetched_points_are_identical():
    t = Traffic(5)
    it = t.items[0]
    first = t.history_row(it, 0, 96)["prices"]
    again = t.history_row(it, 72, 168)["prices"]
    assert first[72:] == again[:24]


def test_malformed_share_and_truth_excludes_them():
    t = Traffic(11, Params(malformed=0.05))
    it = t.items[0]
    pts = t.history_row(it, 0, 4000)["prices"]
    bad = [p for p in pts if p[0] in _MALFORMED_DATES]
    assert 0.03 < len(bad) / len(pts) < 0.07
    keys = t.history_keys(it, 0, 4000)
    assert len(keys) == len(pts) - len(bad)
    assert all(not t.malformed(it, h) for h in range(4000) if (it.name, hour_time(h)) in keys)


def test_zipf_skew_favours_few_items():
    import random

    t = Traffic(2, Params(items=40, zipf_s=1.1))
    rng = random.Random(0)
    counts = Counter(t.zipf_item(rng).name for _ in range(20000))
    top = counts.most_common(4)
    assert sum(c for _, c in top) / 20000 > 0.35
    assert len(counts) > 30  # the tail is still read


def test_injected_failure_share():
    t = Traffic(4, Params(retry_share=0.1))
    fails = sum(t.fetch_fails(it, k) for it in t.items for k in range(250))
    assert 0.08 < fails / (len(t.items) * 250) < 0.12


def test_expected_frames_only_for_subscribed_items():
    when = datetime(2024, 1, 2)
    polled = {"a": (when, 1.5), "b": (when, 2.5)}
    frames = expected_frames(polled, {"a": [1, 2], "c": [3]})
    assert frames == {(1, "a", when, 1.5), (2, "a", when, 1.5)}
