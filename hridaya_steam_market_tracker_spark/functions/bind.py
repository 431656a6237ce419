"""``let`` binding for Column expressions (shared by the function and
operator libraries)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind1(value: Column, body) -> Column:
    """``let`` for Column expressions: evaluate ``value`` exactly once
    per row and pass it to ``body`` as a bound lambda variable.

    Catalyst performs no common-subexpression elimination inside
    higher-order-function lambdas, so an expression referenced inside a
    per-element lambda is RE-EVALUATED for every element — e.g. a
    tokenizer inlined into an n-gram ``transform`` re-splits the whole
    document once per position, O(len^2) per row (measured 10x on the
    sf0.1 corpus). Binding the value as a single-element array's
    ``transform`` variable pins one evaluation per row; lambda-variable
    references are cheap slot lookups. Results are bit-identical to the
    inlined form."""
    return F.element_at(F.transform(F.array(value), body), 1)
