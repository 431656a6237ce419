"""Seeded wire-traffic generator for the four polled streams, with ground truth.

Everything here is pure Python: the benchmark hands the generated wire rows
to the engine and checks the engine's outputs against the truth computed
here, without Spark.

A price-history point is a pure function of (item, hour), so a re-fetched
window repeats byte-identical points and the expected sink is simply the set
of well-formed (market_hash_name, hour) keys that were delivered.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

BASE_TIME = datetime(2024, 1, 1)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

# (ISO code, country, language); the wire formats below follow data/dataExamples
# of the reference: locale-formatted strings such as "0,03€" and "$1.17".
LOCALES = (
    ("EUR", "DE", "german"),
    ("USD", "US", "english"),
    ("GBP", "GB", "english"),
    ("INR", "IN", "english"),
)
_PREFIX = {"USD": "$", "GBP": "£", "INR": "₹ "}
# Currencies the activity parser recognises (functions.prices.ACTIVITY_CURRENCY_MAP).
_ACTIVITY_CURRENCIES = {"EUR", "USD", "GBP"}
_ACTIVITY_HTML = (
    '<div class="market_activity_line_item ellipsis">\n'
    '\t<span class="market_activity_cell market_activity_price ">\n\t\t{price}\t</span>\n'
    '\t<span class="market_activity_action">{action}</span>\n</div>\n'
)
# Date strings parse_steam_datetime must reject.
_MALFORMED_DATES = ("2024-01-02 03:00:00", "Jan 2 2024 3: +0", "", "not a date")


@dataclass(frozen=True)
class Params:
    """Traffic shape; every field is varied only through the seed."""

    items: int = 40
    window: int = 96            # hours per price-history fetch
    overlap: float = 0.25       # share of each fetch window that repeats the previous one
    malformed: float = 0.02     # share of history points with a malformed date
    retry_share: float = 0.05   # share of live fetches that fail with a retryable error
    activity_lines: int = 5     # HTML lines per activity snapshot
    zipf_s: float = 1.1         # read skew over items


@dataclass(frozen=True)
class Item:
    name: str
    item_nameid: int
    currency: str
    country: str
    language: str

    def identity(self) -> dict:
        return {
            "appid": 730,
            "market_hash_name": self.name,
            "item_nameid": self.item_nameid,
            "country": self.country,
            "language": self.language,
        }


def _unit(*parts) -> float:
    """Deterministic uniform [0, 1) from the parts (independent of call order)."""
    digest = hashlib.blake2b(repr(parts).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big") / 2**64


def format_price(cents: int, currency: str) -> str:
    """Locale string for a price given in minor units."""
    major, minor = divmod(cents, 100)
    if currency == "EUR":
        grouped = f"{major:,}".replace(",", ".")
        return f"{grouped},{minor:02d}€"
    return _PREFIX[currency] + f"{major:,}.{minor:02d}"


def steam_date(hour: int) -> str:
    t = BASE_TIME + timedelta(hours=hour)
    return f"{_MONTHS[t.month - 1]} {t.day:02d} {t.year} {t.hour:02d}: +0"


def hour_time(hour: int) -> datetime:
    return BASE_TIME + timedelta(hours=hour)


class Traffic:
    """Item population plus the wire responses and truth for one seed."""

    def __init__(self, seed: int, params: Params = Params()):
        self.seed = seed
        self.params = params
        rng = random.Random(seed)
        self.items = [
            Item(
                name=f"Sticker | Team {seed % 97}-{i} ({rng.choice(('Holo', 'Foil', 'Gold'))})",
                item_nameid=100_000 + seed * 1000 + i,
                currency=loc[0],
                country=loc[1],
                language=loc[2],
            )
            for i, loc in enumerate(rng.choice(LOCALES) for _ in range(params.items))
        ]
        self._by_name = {it.name: it for it in self.items}
        weights = [1.0 / (rank + 1) ** params.zipf_s for rank in range(params.items)]
        order = list(range(params.items))
        rng.shuffle(order)
        self._popularity = [self.items[i] for i in order]
        total = sum(weights)
        self._cum = [sum(weights[: k + 1]) / total for k in range(params.items)]

    # ------------------------------------------------------------ history
    def malformed(self, item: Item, hour: int) -> bool:
        return _unit(self.seed, "bad", item.name, hour) < self.params.malformed

    def price(self, item: Item, hour: int) -> float:
        base = 1.0 + 500.0 * _unit(self.seed, "base", item.name)
        wave = 1.0 + 0.1 * math.sin(hour / 24.0 + _unit(self.seed, "ph", item.name) * 6.28)
        return float(f"{base * wave:.3f}")

    def volume(self, item: Item, hour: int) -> int:
        return 1 + int(3000 * _unit(self.seed, "vol", item.name, hour) ** 4)

    def history_row(self, item: Item, start: int, end: int) -> dict:
        """One pricehistory wire response covering hours [start, end)."""
        points = []
        for h in range(start, end):
            date = (_MALFORMED_DATES[h % len(_MALFORMED_DATES)]
                    if self.malformed(item, h) else steam_date(h))
            points.append([date, f"{self.price(item, h):.3f}", f"{self.volume(item, h):,}"])
        return {
            "success": True,
            "price_prefix": _PREFIX.get(item.currency, ""),
            "price_suffix": "€" if item.currency == "EUR" else "",
            "prices": points,
            **item.identity(),
        }

    def history_windows(self, item: Item, start: int, end: int) -> list[tuple[int, int]]:
        """Overlapping re-fetch windows that together cover [start, end)."""
        step = max(1, round(self.params.window * (1.0 - self.params.overlap)))
        out, s = [], start
        while s < end:
            out.append((s, min(s + self.params.window, end)))
            if s + self.params.window >= end:
                break
            s += step
        return out

    def history_keys(self, item: Item, start: int, end: int) -> set[tuple[str, datetime]]:
        return {(item.name, hour_time(h)) for h in range(start, end)
                if not self.malformed(item, h)}

    # ---------------------------------------------------------- snapshots
    def _cents(self, item: Item, tag: str, n: int, hi: int = 250_000) -> int:
        return 1 + int(hi * _unit(self.seed, tag, item.name, n) ** 3)

    def overview_row(self, item: Item, n: int) -> dict:
        lo, med = self._cents(item, "lo", n), self._cents(item, "med", n)
        vol = 1 + int(50_000 * _unit(self.seed, "ovol", item.name, n))
        return {
            "success": True,
            "lowest_price": format_price(lo, item.currency),
            "median_price": format_price(med, item.currency),
            "volume": f"{vol:,}",
            **item.identity(),
        }

    def overview_truth(self, item: Item, n: int) -> tuple:
        return (item.name, item.currency, self._cents(item, "lo", n) / 100,
                self._cents(item, "med", n) / 100,
                1 + int(50_000 * _unit(self.seed, "ovol", item.name, n)))

    def histogram_row(self, item: Item, n: int) -> dict:
        bid, ask = self._cents(item, "bid", n), self._cents(item, "ask", n)
        depth = 1 + int(4 * _unit(self.seed, "depth", item.name, n))
        table = [{"price": format_price(max(1, bid - k), item.currency), "quantity": str(k + 1)}
                 for k in range(depth)]
        graph = [[f"{max(1, bid - k) / 100:.2f}", str(k + 1), f"{k + 1} buy orders"]
                 for k in range(depth)]
        return {
            "success": 1,
            "buy_order_count": str(depth * 3),
            "sell_order_count": f"{depth * 1000:,}",
            "buy_order_table": table,
            "sell_order_table": table,
            "buy_order_graph": graph,
            "sell_order_graph": graph,
            "highest_buy_order": str(bid),
            "lowest_sell_order": str(ask),
            "price_suffix": "€" if item.currency == "EUR" else "",
            **item.identity(),
        }

    def histogram_truth(self, item: Item, n: int) -> tuple:
        bid, ask = self._cents(item, "bid", n), self._cents(item, "ask", n)
        depth = 1 + int(4 * _unit(self.seed, "depth", item.name, n))
        return (item.name, item.currency, bid / 100, ask / 100, depth * 3, depth * 1000)

    def activity_row(self, item: Item, n: int) -> dict:
        lines = []
        for k in range(self.params.activity_lines):
            cents = self._cents(item, "act", n * 100 + k, hi=99_999)
            action = "Purchased" if _unit(self.seed, "act?", item.name, n, k) < 0.5 else "Listed"
            lines.append(_ACTIVITY_HTML.format(price=format_price(cents, item.currency),
                                               action=action))
        return {"success": 1, "activity": lines, "timestamp": 1_700_000_000 + n * 60,
                **item.identity()}

    def activity_truth(self, item: Item, n: int) -> tuple:
        cur = item.currency if item.currency in _ACTIVITY_CURRENCIES else "USD"
        return (item.name, cur, self.params.activity_lines)

    # --------------------------------------------------------------- reads
    def zipf_item(self, rng: random.Random) -> Item:
        u = rng.random()
        for k, c in enumerate(self._cum):
            if u <= c:
                return self._popularity[k]
        return self._popularity[-1]

    def item(self, name: str) -> Item:
        return self._by_name[name]

    # ---------------------------------------------------------------- live
    def fetch_fails(self, item: Item, attempt: int) -> bool:
        """Injected retryable failure for the item's attempt-th fetch."""
        return _unit(self.seed, "fail", item.name, attempt) < self.params.retry_share


def expected_frames(polled: dict[str, tuple[datetime, float]],
                    subscribers: dict[str, list[int]]) -> set[tuple[int, str, datetime, float]]:
    """Frames one routed batch must emit: one per subscriber of each touched
    item, carrying the item's latest point in the batch; unwatched items emit
    nothing."""
    return {(sid, name, t, v) for name, (t, v) in polled.items()
            for sid in subscribers.get(name, ())}
