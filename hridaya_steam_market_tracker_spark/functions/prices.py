"""Locale-aware price / volume / currency normalization (SURVEY.md §G).

Semantics match the reference's parsers behaviorally (goldens in
tests/test_functions.py):

* ``parse_steam_price``   — reference src/SQLinserts.py:593-636 (G1)
* ``to_major_units``      — reference src/SQLinserts.py:640-655 (G2)
* ``parse_volume``        — reference src/SQLinserts.py:658-675 (G3)
* ``extract_currency``    — reference src/SQLinserts.py:677-714 (G4)
* ``activity_price_and_currency`` — reference
  utility/parseActivityHTML_utility.py:13-61 (G5; deliberately narrower
  than G1 — the two parsers coexist, see SURVEY.md §7 "hard parts" #2)
* ``steam_currency_id_to_iso`` — reference
  utility/loadTrackedItems_utility.py:25-30 (G8)
* ``coerce_price``        — reference api/main.py:225-232 (G9)

All native expressions: chained replace / regexp / when — they compile
into whole-stage codegen, so at 100 TB the normalization rides inside
the scan stage with zero Python cost.

Order sensitivity is load-bearing and reproduced exactly:
* G1 strips symbols SEQUENTIALLY in list order — '$' before 'CDN$'
  means "CDN$12.34" degrades to "CDN12.34" -> NULL (reference quirk).
* G4 returns the FIRST map entry found as a substring — '$' before
  'CDN$' maps "CDN$5" to USD (reference quirk).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.functions.bind import bind1

# Symbol -> ISO 4217, in the reference's first-match order (G4).
CURRENCY_MAP = [
    ("$", "USD"), ("€", "EUR"), ("£", "GBP"), ("¥", "JPY"), ("₹", "INR"),
    ("₽", "RUB"), ("pуб.", "RUB"), ("R$", "BRL"), ("CDN$", "CAD"),
    ("A$", "AUD"), ("HK$", "HKD"), ("S$", "SGD"), ("₩", "KRW"),
    ("₴", "UAH"), ("CHF", "CHF"), ("kr", "SEK"), ("zł", "PLN"),
    ("R", "ZAR"), ("฿", "THB"),
]

# G1's strip order is the same symbol list in the same order.
STRIP_SYMBOLS = [sym for sym, _ in CURRENCY_MAP]

# Narrower 8-symbol map used by the activity parser (G5).
ACTIVITY_CURRENCY_MAP = [
    ("€", "EUR"), ("$", "USD"), ("£", "GBP"), ("¥", "JPY"),
    ("₽", "RUB"), ("R$", "BRL"), ("CDN$", "CAD"), ("A$", "AUD"),
]

# Steam wallet currency id -> ISO (G8), reference loadTrackedItems_utility.py:25-30.
STEAM_CURRENCY_ID_TO_ISO = {1: "USD", 2: "GBP", 3: "EUR", 24: "INR"}
ISO_TO_COUNTRY = {"USD": "US", "GBP": "GB", "EUR": "DE", "INR": "IN"}

_INT_RE = "^-?[0-9]+$"


def _strip_symbols(col: Column) -> Column:
    cleaned = F.trim(col)
    for sym in STRIP_SYMBOLS:
        cleaned = F.replace(cleaned, F.lit(sym), F.lit(""))
    return F.trim(cleaned)


def parse_steam_price(col: Column) -> Column:
    """G1: locale price string -> double (NULL on failure).

    Dual-separator rule: when both ',' and '.' appear, the rightmost
    one is the decimal separator. Single comma is decimal iff exactly
    two characters follow it; otherwise thousands.
    """

    def parse(c: Column) -> Column:
        both = c.contains(",") & c.contains(".")
        # Rightmost separator is the comma <=> no dot occurs after the last comma.
        euro = c.rlike(",[^.]*$")
        comma_only = c.contains(",") & ~c.contains(".")
        comma_decimal = c.rlike(",[^,]{2}$")
        normalized = (
            F.when(both & euro, F.replace(F.replace(c, F.lit("."), F.lit("")), F.lit(","), F.lit(".")))
            .when(both, F.replace(c, F.lit(","), F.lit("")))
            .when(comma_only & comma_decimal, F.replace(c, F.lit(","), F.lit(".")))
            .when(comma_only, F.replace(c, F.lit(","), F.lit("")))
            .otherwise(c)
        )
        # Python float() accepts optional sign/decimal/exponent; Spark's
        # string->double cast accepts the same family and yields NULL on
        # junk — but it also accepts spaces inside, so guard with a regex.
        valid = normalized.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
        return F.when(valid, normalized.cast("double")).otherwise(F.lit(None).cast("double"))

    # bind1: the 19-step symbol strip is evaluated once per row; inlined,
    # every predicate and branch above re-embedded the whole chain.
    return bind1(_strip_symbols(col), parse)


def to_major_units(col: Column) -> Column:
    """G2: separator-less minor-unit integer string -> major units.

    "6711" -> 67.11. Python int() is strict — anything non-integral
    (including "67.11") is NULL, unlike a bare Spark cast which would
    truncate.
    """
    cleaned = F.replace(F.trim(col.cast("string")), F.lit(","), F.lit(""))
    return F.when(cleaned.rlike(_INT_RE), cleaned.cast("long") / 100.0).otherwise(
        F.lit(None).cast("double")
    )


def parse_volume(col: Column) -> Column:
    """G3: "1,234" -> 1234 (strip ',' and '.'), NULL on failure/empty.

    Long-typed: the reference's int() is unbounded, so a 32-bit cast
    would silently NULL volumes >= 2^31 that the reference accepts.
    """
    cleaned = F.regexp_replace(F.trim(col), "[,.]", "")
    return F.when(cleaned.rlike(_INT_RE), cleaned.cast("long")).otherwise(
        F.lit(None).cast("long")
    )


def extract_currency(col: Column) -> Column:
    """G4: first currency symbol found in the string -> ISO 4217 code."""
    result = F.lit(None).cast("string")
    expr = None
    for sym, code in CURRENCY_MAP:
        cond = col.contains(sym)
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")).otherwise(
        expr.otherwise(result)
    )


def activity_price_and_currency(col: Column) -> tuple[Column, Column]:
    """G5: activity price string -> (price double, currency string).

    Narrower rules than G1: 8-symbol map (first match strips the
    symbol), every comma becomes a dot, no thousands handling. A parse
    failure nulls BOTH outputs (reference returns (None, None) even
    when a symbol matched).
    """
    trimmed = F.trim(col)
    currency = F.lit(None).cast("string")
    stripped = trimmed
    # First matching symbol determines currency and is removed; later
    # symbols are not considered (reference breaks out of the loop).
    cur_expr = None
    strip_expr = None
    for sym, code in ACTIVITY_CURRENCY_MAP:
        cond = trimmed.contains(sym)
        repl = F.trim(F.replace(trimmed, F.lit(sym), F.lit("")))
        cur_expr = F.when(cond, code) if cur_expr is None else cur_expr.when(cond, code)
        strip_expr = F.when(cond, repl) if strip_expr is None else strip_expr.when(cond, repl)
    currency = cur_expr.otherwise(F.lit(None).cast("string"))
    stripped = strip_expr.otherwise(trimmed)

    normalized = F.replace(stripped, F.lit(","), F.lit("."))
    valid = normalized.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
    price = F.when(valid, normalized.cast("double")).otherwise(F.lit(None).cast("double"))
    # (None, None) on failure — currency only survives if price parsed.
    currency = F.when(price.isNotNull(), currency).otherwise(F.lit(None).cast("string"))
    return price, currency


def steam_currency_id_to_iso(col: Column) -> Column:
    """G8: Steam wallet currency id -> ISO code (1=USD, 2=GBP, 3=EUR, 24=INR)."""
    expr = None
    for cid, code in STEAM_CURRENCY_ID_TO_ISO.items():
        cond = col == cid
        expr = F.when(cond, code) if expr is None else expr.when(cond, code)
    return expr.otherwise(F.lit(None).cast("string"))


def coerce_price(col: Column) -> Column:
    """G9: read-path re-serialization coercion — strip commas, cast double."""
    return F.replace(col.cast("string"), F.lit(","), F.lit("")).cast("double")
