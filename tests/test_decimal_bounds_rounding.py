"""Directional rounding of float-rescaled decimal footer bounds
(ADVICE r12, manifest.py _dec_raw): above ~15 significant digits,
nearest-float rounding can move a bound INWARD — a lower bound rounded
up can skip a file containing matches (inclusive pruning), and a max
rounded down can let the STRICT evaluator wrongly classify a file as
all-match (metadata-only delete drops surviving rows).  Bounds must
only ever WIDEN: lower rounds toward -inf, upper toward +inf."""

from __future__ import annotations

from fractions import Fraction

import pytest

from iceberg_geo_poc_spark.table.manifest import _dec_raw


@pytest.mark.parametrize(
    "raw,scale",
    [
        (10**18 + 1, 2),  # 19 digits: not exactly representable
        (-(10**18 + 1), 2),
        (12345678901234567891, 4),
        (-12345678901234567891, 4),
        (2**63 + 3, 6),
        (1, 0),  # exact small values must pass through unchanged
        (-700, 2),
    ],
)
def test_dec_raw_widens_only(raw, scale):
    exact = Fraction(raw, 10**scale)
    lo = _dec_raw(raw, scale, -1)
    hi = _dec_raw(raw, scale, +1)
    assert Fraction(lo) <= exact <= Fraction(hi)
    # and stays within a couple of ulps (not over-widened)
    import math

    assert hi <= math.nextafter(math.nextafter(float(lo), math.inf), math.inf) or lo == hi


def test_dec_raw_bytes_form():
    raw = (10**20 + 7).to_bytes(16, "big", signed=True)
    exact = Fraction(10**20 + 7, 10**3)
    assert Fraction(_dec_raw(raw, 3, -1)) <= exact <= Fraction(_dec_raw(raw, 3, +1))


def test_dec_raw_exact_values_unchanged():
    # values exactly representable as floats are NOT nudged
    assert _dec_raw(12500, 2, -1) == 125.0
    assert _dec_raw(12500, 2, +1) == 125.0


def test_decimal_partition_bounds_widen_property():
    """Property (hypothesis): for ANY decimal string, the injected
    partition bounds from delta_migration._decimal_bounds bracket the
    exact value — lower <= exact <= upper as Fractions — and each is
    within one ulp of exact (widened, never inward)."""
    import math
    from decimal import Decimal
    from fractions import Fraction

    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    from iceberg_geo_poc_spark.table.delta_migration import _decimal_bounds

    @st.composite
    def decimal_strings(draw):
        digits = draw(st.integers(1, 38))
        scale = draw(st.integers(0, min(digits, 20)))
        unscaled = draw(
            st.integers(-(10**digits - 1), 10**digits - 1)
        )
        return str(Decimal(unscaled).scaleb(-scale))

    @given(decimal_strings())
    @settings(max_examples=300, deadline=None)
    def check(s):
        lo, hi = _decimal_bounds(s, "decimal(38,20)")
        exact = Fraction(Decimal(s))
        assert Fraction(lo) <= exact <= Fraction(hi)
        # widening is minimal: at most one ulp beyond the exact value
        if math.isfinite(lo) and Fraction(lo) != exact:
            assert Fraction(math.nextafter(lo, math.inf)) >= exact
        if math.isfinite(hi) and Fraction(hi) != exact:
            assert Fraction(math.nextafter(hi, -math.inf)) <= exact

    check()


def test_spark_written_wide_decimal_bounds_widen(spark, tmp_path):
    """Spark writes DECIMAL(p>18) as FIXED_LEN_BYTE_ARRAY, whose footer
    stats pyarrow hands over as Decimal objects; the harvest widens them
    like the INT-backed ones instead of rounding to the nearest float
    (100000000000000011.123 rounds UP to 1.0000000000000002e17, a lower
    bound above the true minimum)."""
    import json
    from decimal import Decimal

    import pandas as pd

    from iceberg_geo_poc_spark.table import Catalog

    lo, hi = Decimal("100000000000000011.123"), Decimal("12345678901234567890.5")
    t = Catalog(str(tmp_path / "wh"), spark).create_table("wide", "v DECIMAL(38,3)")
    df = spark.createDataFrame(pd.DataFrame({"v": [lo, hi]}), "v DECIMAL(38,3)")
    t.append(df.coalesce(1))
    row = t._entries().iloc[0]
    assert Fraction(json.loads(row.lower)["v"]) <= Fraction(lo)
    assert Fraction(json.loads(row.upper)["v"]) >= Fraction(hi)
