"""Property tests for the comparator-proof integer derivations.

The gated head emits money/ratios as exact integers via
`__spark_entry__._cents` (floor(x*100+0.5)) and
`text._ppm` (floor(n*1e6/d)). These tests pin the two claims the
whole doctrine rests on (docs/HEAD_AUDIT.md):

1. floor(x*100+0.5) recovers k exactly for EVERY double that is the
   nearest representation of a 2-decimal value k/100 — including
   negatives and large magnitudes — and agrees with the DECIMAL-cast
   derivation and with round-half-up.
2. floor(n*1e6/d) equals true integer division n*1e6 // d for the
   magnitudes the engine uses (numerator < 2^53).

Both properties are pure host-side float math (the Spark/DuckDB
expressions execute the same IEEE ops), so hypothesis can sweep
millions of cases cheaply; one Spark round-trip per property confirms
the Column expressions compute the same thing.
"""

from __future__ import annotations

import math
from decimal import Decimal

from hypothesis import given, settings, strategies as st

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.text import _ppm

from pyspark.sql import functions as F


# 2-decimal values across sign and magnitude, up to the documented
# |x| < 2^52/100 validity bound of the derivation
cents_values = st.integers(min_value=-(4 * 10**13), max_value=4 * 10**13)


@given(k=cents_values)
@settings(max_examples=2000, deadline=None)
def test_floor_cents_recovers_every_2dec_double(k):
    x = k / 100  # nearest double to the decimal k/100
    got = math.floor(x * 100 + 0.5)
    assert got == k


@given(k=st.integers(min_value=-(10**9), max_value=10**9))
@settings(max_examples=2000, deadline=None)
def test_floor_cents_agrees_with_decimal_cast_and_round(k):
    x = k / 100
    via_floor = math.floor(x * 100 + 0.5)
    via_decimal = int(Decimal(x).quantize(Decimal("0.01")) * 100)
    via_round = round(x * 100)  # banker's rounding — ties never occur
    assert via_floor == via_decimal == via_round == k


@given(
    n=st.integers(min_value=0, max_value=2**52),
    d=st.integers(min_value=1, max_value=10**9),
)
@settings(max_examples=2000, deadline=None)
def test_ppm_floor_division_is_exact(n, d):
    # guard: the engine only uses _ppm with n*1e6 < 2^53
    num = n * 1_000_000
    if num >= 2**53:
        num = (n % (2**33)) * 1_000_000
        n = num // 1_000_000
    assert math.floor(num / d) == num // d


def test_spark_expressions_match_host_math(spark):
    rows = [(k / 100, k) for k in (-99999, -1, 0, 1, 5, 49, 50, 51, 99, 12345678901)]
    df = spark.createDataFrame(rows, "x double, k long")
    got = df.select(
        em._cents(F.col("x")).alias("c"),
        "k",
    ).collect()
    for r in got:
        assert r.c == r.k, (r.c, r.k)


def test_spark_ppm_matches_host_math(spark):
    rows = [(n, d) for n in (0, 1, 7, 999, 10**6) for d in (1, 3, 7, 10**6)]
    df = spark.createDataFrame(rows, "n long, d long")
    got = df.select("n", "d", _ppm(F.col("n"), F.col("d")).alias("ppm")).collect()
    for r in got:
        assert r.ppm == (r.n * 1_000_000) // r.d, (r.n, r.d, r.ppm)
