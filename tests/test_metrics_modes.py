"""Metrics modes (reference MetricsModes.java + UnicodeUtil parity)."""

from __future__ import annotations

import json

import pytest

from iceberg_geo_poc_spark.table import manifest as M


def test_parse_modes():
    assert M.parse_metrics_mode("full") == ("full", None)
    assert M.parse_metrics_mode("none") == ("none", None)
    assert M.parse_metrics_mode("counts") == ("counts", None)
    assert M.parse_metrics_mode("truncate(16)") == ("truncate", 16)
    assert M.parse_metrics_mode("Truncate(4)") == ("truncate", 4)
    with pytest.raises(ValueError):
        M.parse_metrics_mode("truncate(0)")
    with pytest.raises(ValueError):
        M.parse_metrics_mode("bogus")


def test_column_override_beats_default():
    props = {
        M.METRICS_DEFAULT_PROP: "counts",
        M.METRICS_COL_PROP + "name": "truncate(2)",
    }
    assert M.metrics_mode_for(props, "name") == ("truncate", 2)
    assert M.metrics_mode_for(props, "other") == ("counts", None)
    assert M.metrics_mode_for({}, "x") == ("full", None)


def test_truncate_string_max_increments():
    assert M.truncate_string_max("abcdef", 3) == "abd"
    assert M.truncate_string_max("ab", 3) == "ab"  # short: untouched
    # carry: last char at max code point -> increment the previous one
    assert M.truncate_string_max("a\U0010FFFFz", 2) == "b"
    # all max -> no upper bound exists
    assert M.truncate_string_max("\U0010FFFF\U0010FFFFx", 2) is None
    # surrogate range is skipped (U+D7FF + 1 jumps to U+E000)
    assert M.truncate_string_max("a\ud7ffz", 2) == "a\ue000"


def test_truncated_max_stays_upper_bound():
    for v in ("abcdef", "zzzzzz", "src18", "퟿퟿퟿퟿"):
        t = M.truncate_string_max(v, 3)
        assert t is None or t >= v, (v, t)
        lo = M.truncate_string_min(v, 3)
        assert lo <= v


def test_apply_modes_shapes():
    lower = {"s": "abcdef", "n": 5}
    upper = {"s": "zzzzzz", "n": 9}
    nulls = {"s": 1, "n": 0}
    props = {M.METRICS_DEFAULT_PROP: "truncate(3)"}
    lo, hi, nu = M.apply_metrics_modes(lower, upper, nulls, props, {"s"})
    assert lo == {"s": "abc", "n": 5}  # numeric bounds stay exact
    assert hi["s"] == "zz{" and hi["s"] >= "zzzzzz"  # 'z'+1 == '{'
    assert hi["n"] == 9
    assert nu == nulls

    props = {M.METRICS_DEFAULT_PROP: "counts"}
    lo, hi, nu = M.apply_metrics_modes(lower, upper, nulls, props, {"s"})
    assert lo == {} and hi == {} and nu == nulls

    props = {M.METRICS_DEFAULT_PROP: "none"}
    lo, hi, nu = M.apply_metrics_modes(lower, upper, nulls, props, {"s"})
    assert lo == {} and hi == {} and nu == {}


@pytest.fixture()
def catalog(spark, tmp_path):
    from iceberg_geo_poc_spark.table import Catalog

    return Catalog(str(tmp_path / "wh"), spark)


def _write_samples(catalog, write_each, props):
    """The sample rows under ``props``, once per data-file writer: the
    policy must hold whichever writer made the file."""
    import pandas as pd

    return write_each(
        catalog,
        "mm_" + "_".join(f"{k.split('.')[-1]}_{v}" for k, v in props.items())
        .replace("(", "_").replace(")", ""),
        "id BIGINT, name STRING",
        pd.DataFrame({"id": [1, 2, 3], "name": ["alabama", "wyoming", "montana"]}),
        props,
    )


def test_truncate_bounds_in_manifest_and_sound_scan(catalog, write_each):
    from iceberg_geo_poc_spark.table import E

    for writer, t in _write_samples(
        catalog, write_each, {M.METRICS_DEFAULT_PROP: "truncate(3)"}
    ):
        ent = t._entries()
        row = ent[ent.content == "data"].iloc[0]
        lo = json.loads(row.lower)["name"]
        hi = json.loads(row.upper)["name"]
        assert lo == "ala" and hi == "wyp", writer
        # scan with a string predicate: widened bounds must not lose rows
        got = sorted(
            r["name"] for r in t.scan(where=E.ge("name", "montana")).to_df().collect()
        )
        assert got == ["montana", "wyoming"], writer
        # numeric bounds exact
        assert json.loads(row.lower)["id"] == 1, writer
        assert json.loads(row.upper)["id"] == 3, writer


def test_counts_mode_drops_bounds_keeps_nulls(catalog, write_each):
    for writer, t in _write_samples(
        catalog, write_each, {M.METRICS_DEFAULT_PROP: "counts"}
    ):
        row = t._entries().iloc[0]
        assert json.loads(row.lower) == {} and json.loads(row.upper) == {}, writer
        assert json.loads(row.nulls)["name"] == 0, writer


def test_none_mode_drops_everything(catalog, write_each):
    for writer, t in _write_samples(
        catalog, write_each, {M.METRICS_DEFAULT_PROP: "none"}
    ):
        row = t._entries().iloc[0]
        assert json.loads(row.lower) == {}, writer
        assert json.loads(row.upper) == {}, writer
        assert json.loads(row.nulls) == {}, writer


def test_stats_fastpath_refuses_truncated_string_minmax(catalog, write_each):
    from iceberg_geo_poc_spark.table.stats_agg import try_stats_aggregate

    for writer, t in _write_samples(
        catalog, write_each, {M.METRICS_DEFAULT_PROP: "truncate(3)"}
    ):
        # COUNT still answerable; MIN/MAX on the truncated string must bail
        assert try_stats_aggregate(t, ["count(*)"]) == [3], writer
        assert try_stats_aggregate(t, ["min(name)"]) is None, writer
        assert try_stats_aggregate(t, ["max(name)"]) is None, writer
        # numeric MIN/MAX remain exact and answerable
        assert try_stats_aggregate(t, ["min(id)", "max(id)"]) == [1, 3], writer


def test_full_mode_string_minmax_still_answered(catalog, write_each):
    from iceberg_geo_poc_spark.table.stats_agg import try_stats_aggregate

    for writer, t in _write_samples(catalog, write_each, {}):
        assert try_stats_aggregate(t, ["min(name)", "max(name)"]) == [
            "alabama",
            "wyoming",
        ], writer


def test_truncate_upper_bound_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(min_size=0, max_size=12),
        st.integers(min_value=1, max_value=6),
    )
    def check(v, n):
        lo = M.truncate_string_min(v, n)
        hi = M.truncate_string_max(v, n)
        assert lo <= v and len(lo) <= n
        assert hi is None or (hi >= v and len(hi) <= n)
        if hi is not None:
            # incremented bounds never contain lone-surrogate code units
            assert not any(0xD800 <= ord(c) <= 0xDFFF for c in hi[len(hi) - 1:])

    check()
