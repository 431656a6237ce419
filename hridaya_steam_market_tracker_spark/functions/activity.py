"""Trade-activity HTML extraction (SURVEY.md §G6/G7).

The itemordersactivity endpoint returns raw HTML lines; the structured
fields are regex-extracted (reference
utility/parseActivityHTML_utility.py:64-133):

* price span: class "market_activity_cell market_activity_price..." —
  Steam emits several price spans per line, the first NON-EMPTY one
  that parses wins;
* action span: class "market_activity_action" (Purchased / Listed).

Implemented as native regexp_extract_all + higher-order array
functions — the whole explode→extract→parse chain stays JVM-side
(effectively a UDTF as a DataFrame transform). Each span is parsed
exactly once (`activity_price`): one ``transform`` maps every span
to its (span, price, currency) candidate and the first candidate with a
price wins, so the expression grows linearly with the G5 rules instead
of nesting a parse inside a filter inside another parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.functions.prices import (
    activity_price_and_currency,
)
from hridaya_steam_market_tracker_spark.functions.datetimes import unix_to_timestamp

_PRICE_SPAN_RE = (
    r'<span class="market_activity_cell market_activity_price[^"]*">\s*([^<]+?)\s*</span>'
)
_ACTION_SPAN_RE = r'<span class="market_activity_action">([^<]+)</span>'


def activity_price(html: Column) -> Column:
    """First price span of an activity line whose content parses as a
    G5 price, as ``struct<span, price, currency>`` (NULL if none does).

    The reference iterates the spans and keeps the first parse success
    (parseActivityHTML_utility.py:80-88) — a non-empty span that fails
    to parse is skipped, not terminal. An empty span never parses, so
    "price not NULL" is the whole test. Every span is parsed once, and
    the winner's price and currency are the ones that parse produced.
    """

    def candidate(s: Column) -> Column:
        price, currency = activity_price_and_currency(s)
        return F.struct(s.alias("span"), price.alias("price"), currency.alias("currency"))

    spans = F.regexp_extract_all(html, F.lit(_PRICE_SPAN_RE), 1)
    parsed = F.filter(F.transform(spans, candidate), lambda c: c["price"].isNotNull())
    return F.try_element_at(parsed, F.lit(1))


def extract_activity_price_string(html: Column) -> Column:
    """First price span whose content actually parses as a price (or NULL)."""
    return activity_price(html)["span"]


def extract_activity_action(html: Column) -> Column:
    """Action label ("Purchased" / "Listed" / ...), trimmed, NULL if absent."""
    raw = F.regexp_extract(html, _ACTION_SPAN_RE, 1)
    return F.when(F.trim(raw) == "", F.lit(None).cast("string")).otherwise(F.trim(raw))


def parse_activity_lines(
    df: DataFrame, html_array_col: str = "activity", ts_col: str = "steam_timestamp"
) -> DataFrame:
    """G7: explode an activity response into typed entry rows.

    Input: one row per snapshot with ``html_array_col`` array<string>
    and a shared unix ``ts_col``. Output: one row per activity line with
    price/currency/action/timestamp/raw_html — the reference's
    parse_activity_response as a distributed transform.
    """
    exploded = df.withColumn("raw_html", F.explode(F.col(html_array_col)))
    # the struct is projected once, then unpacked: price and currency
    # reference it twice, so the optimizer keeps one parse per line
    return (
        exploded.withColumn("_price", activity_price(F.col("raw_html")))
        .withColumns(
            {
                "price": F.col("_price.price"),
                "currency": F.col("_price.currency"),
                "action": extract_activity_action(F.col("raw_html")),
                "timestamp": unix_to_timestamp(F.col(ts_col)),
            }
        )
        .drop("_price")
    )
