"""Decimal128 ops (SURVEY.md §2.7; cpp/src/arrow/util/decimal.h:62-150).

The reference carries 128-bit decimals with precision<=38 — the same ceiling
as Spark's DecimalType.  Arithmetic (+ - * / %), negate/abs, and Rescale map
to built-in decimal expressions; this module adds the *exact aggregation*
pattern the engine uses everywhere money is summed:

float64 inputs are cast to decimal BEFORE aggregation, so sums are exact and
independent of partition/merge order — a requirement both for oracle
hash-matching and for reproducible results on a 1000-executor cluster where
double summation order is nondeterministic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def to_decimal(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Rescale/FromDouble (decimal.h Rescale): round-half-up to scale."""
    return col.cast(f"decimal({precision},{scale})")


def exact_sum(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Order-independent sum of a double column: aggregate in decimal (exact,
    partition-order-independent), then one correctly-rounded conversion to
    double for an engine-agnostic output representation."""
    return F.sum(to_decimal(col, precision, scale)).cast("decimal(38,6)").cast("double")


def exact_avg(col: Column, precision: int = 18, scale: int = 4, ndigits: int = 6) -> Column:
    """Deterministic average: exact decimal sum, one double division, round.
    (Decimal division scale rules differ across engines; a single double
    division of an exact sum is bit-stable.)"""
    s = F.sum(to_decimal(col, precision, scale)).cast("decimal(38,6)").cast("double")
    return F.round(s / F.count(col), ndigits)


def negate(col: Column) -> Column:
    return -col
