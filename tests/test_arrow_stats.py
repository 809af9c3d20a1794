"""``manifest.arrow_stats``, the stats kernel of the writers that hold
their rows as Arrow (avro, modular-encrypted parquet, the DataSource
writers), against the reference it must match: the footer harvest of
the same rows written to parquet by pyarrow."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_geo_poc_spark.table import manifest as M

_I64 = st.integers(-(2**63), 2**63 - 1)
_DAY = st.dates(datetime.date(1900, 1, 1), datetime.date(2100, 1, 1))
_TS = st.datetimes(datetime.datetime(1900, 1, 1), datetime.datetime(2100, 1, 1))
_DEC = st.decimals(
    min_value=Decimal("-" + "9" * 28), max_value=Decimal("9" * 28), places=10, allow_nan=False
)


def _nullable(s):
    return st.one_of(st.none(), s)


@st.composite
def _tables(draw):
    n = draw(st.integers(1, 30))

    def col(s):
        return draw(st.lists(s, min_size=n, max_size=n))

    extremes = st.sampled_from([-(2**63), 2**63 - 1, 2**53 + 1, -(2**53) - 1, 0])
    tbl = pa.table(
        {
            "big": pa.array(col(_nullable(st.one_of(_I64, extremes))), pa.int64()),
            "dbl": pa.array(
                col(_nullable(st.one_of(st.floats(width=64), st.just(math.nan)))),
                pa.float64(),
                from_pandas=False,
            ),
            "none": pa.nulls(n, pa.float64()),
            "s": pa.array(col(_nullable(st.text(max_size=12))), pa.string()),
            "day": pa.array(col(_nullable(_DAY)), pa.date32()),
            "ts": pa.array(col(_nullable(_TS)), pa.timestamp("us", tz="UTC")),
            "ts_ny": pa.array(col(_nullable(_TS)), pa.timestamp("us")).cast(
                pa.timestamp("us", tz="America/New_York")
            ),
            "dec": pa.array(col(_nullable(_DEC)), pa.decimal128(38, 10)),
            "bin": pa.array(col(_nullable(st.binary(max_size=8))), pa.binary()),
        }
    )
    return tbl, draw(st.integers(1, n))


def test_arrow_stats_equals_pyarrow_footer_harvest(tmp_path):
    path = str(tmp_path / "f.parquet")

    @settings(max_examples=60, deadline=None)
    @given(_tables())
    def check(case):
        tbl, row_group_size = case
        pq.write_table(tbl, path, row_group_size=row_group_size)
        lower, upper, nulls, nans = M.arrow_stats(tbl)
        f_lower, f_upper, f_nulls = M.harvest_footer_stats(path)[2:5]
        dbl = [v for v in tbl.column("dbl").to_pylist() if v is not None]
        finite = [v for v in dbl if not math.isnan(v)]
        if finite and not any(math.isfinite(v) for v in finite):
            # pyarrow's footer starts min/max at +-DBL_MAX, so a column
            # holding only infinities gets a wider, finite bound there;
            # the kernel keeps the exact one
            assert f_lower.pop("dbl") <= lower.pop("dbl") == min(finite)
            assert f_upper.pop("dbl") >= upper.pop("dbl") == max(finite)
        assert (lower, upper, nulls) == (f_lower, f_upper, f_nulls)
        assert nans == {"dbl": sum(1 for v in dbl if math.isnan(v)), "none": 0}

    check()


def test_arrow_stats_encodings():
    """Bounds as the manifest stores them: UTC wall clock, decimals
    widened outward, NaN counted apart from nulls and left out of the
    bounds, null counts only for binary and nested columns."""
    from fractions import Fraction

    utc5 = datetime.datetime(2024, 1, 1, 5, tzinfo=datetime.timezone.utc)
    tbl = pa.table(
        {
            "ts": pa.array([utc5, None, None], pa.timestamp("us", tz="Asia/Tokyo")),
            "d": pa.array([Decimal("0.1"), None, None], pa.decimal128(10, 1)),
            "x": pa.array([1.5, math.nan, None], from_pandas=False),
            "b": pa.array([b"a", None, None], pa.binary()),
            "arr": pa.array([[1, 2], None, [3]]),
        }
    )
    lower, upper, nulls, nans = M.arrow_stats(tbl)
    assert lower["ts"] == upper["ts"] == "2024-01-01 05:00:00.000000"
    assert Fraction(lower["d"]) < Fraction(1, 10) < Fraction(upper["d"])
    assert lower["x"] == upper["x"] == 1.5
    assert nulls["x"] == 1 and nans == {"x": 1}
    assert set(lower) == set(upper) == {"ts", "d", "x"}
    assert nulls == {"ts": 2, "d": 2, "x": 1, "b": 2, "arr": 1}
