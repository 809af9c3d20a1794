"""Vectorized metrics evaluators: whole-manifest pruning in numpy.

The scalar evaluators in ``expressions.py`` (might_match_file /
all_rows_match_file — analogues of the reference's
InclusiveMetricsEvaluator / StrictMetricsEvaluator) walk the expression
tree once per file.  At 10^6 manifest entries that is minutes of driver
CPU; the reference hits the same wall and splits evaluation so manifest
pruning is columnar (reference core/.../ManifestGroup.java:177-221).

This module evaluates the SAME semantics over every file at once:
``might_match(expr, sv)`` / ``all_match(expr, sv)`` return a boolean
numpy array over the data entries of a manifest, reading the flattened
stat columns (``lo__*``/``hi__*``/``nu__*``/``bb__*``) produced by
``manifest.ensure_flat_stats``.  Property tests assert element-wise
equality with the scalar evaluators on randomized stats.

Conservative behavior mirrors the scalar forms exactly: missing stats =>
might_match True / all_match False; incomparable types => same.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from iceberg_geo_poc_spark.table import expressions as E


class StatsView:
    """Columnar stats over the data entries of a manifest.

    ``renames`` maps physical -> logical column names (stats keys are
    physical; predicates reference logical).
    """

    def __init__(self, data_entries: pd.DataFrame, renames: dict | None = None):
        self.df = data_entries
        self.n = len(data_entries)
        self.record_count = data_entries["record_count"].to_numpy(dtype="int64")
        self._phys = {v: k for k, v in (renames or {}).items()}

    def _series(self, prefix: str, col: str) -> pd.Series | None:
        phys = self._phys.get(col, col)
        name = f"{prefix}__{phys}"
        if name in self.df.columns:
            return self.df[name]
        return None

    def lower(self, col: str) -> pd.Series | None:
        return self._series("lo", col)

    def upper(self, col: str) -> pd.Series | None:
        return self._series("hi", col)

    def nulls(self, col: str) -> np.ndarray | None:
        s = self._series("nu", col)
        return None if s is None else s.to_numpy(dtype="float64")

    def nans(self, col: str) -> np.ndarray | None:
        """NaN counts (float64; NaN = unknown, e.g. legacy manifests)."""
        s = self._series("na", col)
        return None if s is None else s.to_numpy(dtype="float64")

    def points(self, col: str) -> np.ndarray | None:
        """Point-only flags (float64 1/0; NaN = unknown)."""
        s = self._series("pt", col)
        return None if s is None else s.to_numpy(dtype="float64")

    def bbox(self, col: str):
        phys = self._phys.get(col, col)
        out = []
        for corner in ("x0", "y0", "x1", "y1"):
            name = f"bb__{phys}__{corner}"
            if name not in self.df.columns:
                return None
            out.append(self.df[name].to_numpy(dtype="float64"))
        return out


import operator

_PY_OPS = {
    np.less: operator.lt,
    np.less_equal: operator.le,
    np.greater: operator.gt,
    np.greater_equal: operator.ge,
    np.equal: operator.eq,
}


def _false(n: int) -> np.ndarray:
    return np.zeros(n, dtype=bool)


def _true(n: int) -> np.ndarray:
    return np.ones(n, dtype=bool)


def _cmp(ser: pd.Series, v, fn) -> tuple[np.ndarray, np.ndarray]:
    """(result, known): element-wise fn(x, v) with a validity mask.

    Rows whose stat is missing or type-incomparable come back
    known=False — the caller substitutes the conservative answer.

    Integer stats vs an integer literal compare in pure int64 — NEVER
    through float64, which rounds |v| > 2^53 and (because float-vs-int
    comparison in numpy/Python is then exact on the *rounded* value)
    silently prunes live files.  Mirrors the reference's typed-buffer
    bound contract (api/.../types/Conversions.java:123-126).
    """
    notna = ser.notna().to_numpy()
    if isinstance(v, bool):
        num = pd.to_numeric(
            ser.map(lambda x: int(x) if isinstance(x, bool) else x), errors="coerce"
        )
        res = _num_cmp(num, int(v), fn)
        known = notna & num.notna().to_numpy()
        return res, known
    if isinstance(v, (int, float)):
        num = pd.to_numeric(ser, errors="coerce")
        res = _num_cmp(num, v, fn)
        known = notna & num.notna().to_numpy()
        return res, known
    if isinstance(v, str):
        vals = ser.map(lambda x: x if isinstance(x, str) else None)
        known = vals.notna().to_numpy()
        filled = vals.where(vals.notna(), other=v)
        res = fn(filled.to_numpy(), v)
        return np.asarray(res, dtype=bool), known
    # exotic literal type: nothing is comparable
    return _false(len(ser)), _false(len(ser))


def _num_cmp(num: pd.Series, v, fn) -> np.ndarray:
    """fn(stats, v) with int64-exact semantics when both sides are ints.

    ``num`` is the output of pd.to_numeric: int64 / Int64 when every
    value is integral, float64 / Float64 otherwise.  Int-stats × int-
    literal runs in int64 (exact for the full BIGINT range); any float
    on either side falls back to float64 like before (doubles are
    already exact images of the underlying float data)."""
    dt = str(num.dtype)
    if dt in ("int64", "Int64", "int32", "Int32") and isinstance(v, int) and not isinstance(v, bool):
        if not (-(2**63) <= v < 2**63):
            # literal outside int64: every representable stat compares
            # identically, so evaluate once with exact Python ints
            py_op = _PY_OPS.get(fn)
            if py_op is not None:
                return np.full(len(num), bool(py_op(0, v)), dtype=bool)
        else:
            if dt in ("Int64", "Int32"):
                arr = num.fillna(0).to_numpy(dtype="int64")
            else:
                arr = num.to_numpy(dtype="int64")
            return np.asarray(fn(arr, np.int64(v)), dtype=bool)
    try:
        arr = num.to_numpy(dtype="float64", na_value=np.nan)
    except TypeError:
        arr = num.to_numpy(dtype="float64")
    return np.asarray(fn(arr, float(v)), dtype=bool)


def _slice_cmp(ser: pd.Series, p: str, fn) -> tuple[np.ndarray, np.ndarray]:
    """fn(str(x)[:len(p)], p) for starts_with-family ops (the scalar
    evaluator str()-coerces non-string stats the same way)."""
    vals = ser.map(lambda x: None if pd.isna(x) else str(x)[: len(p)])
    known = vals.notna().to_numpy()
    filled = vals.where(vals.notna(), other=p)
    return np.asarray(fn(filled.to_numpy(), p), dtype=bool), known


def might_match(expr: E.Expr, sv: StatsView) -> np.ndarray:
    n = sv.n
    if isinstance(expr, E.AlwaysTrue):
        return _true(n)
    if isinstance(expr, E.AlwaysFalse):
        return _false(n)
    if isinstance(expr, E.And):
        return might_match(expr.left, sv) & might_match(expr.right, sv)
    if isinstance(expr, E.Or):
        return might_match(expr.left, sv) | might_match(expr.right, sv)
    if isinstance(expr, E.Not):
        return ~all_match(expr.child, sv)
    if isinstance(expr, E.SpatialPredicate):
        return _spatial_might(expr, sv)
    if isinstance(expr, E.Predicate):
        return _pred_might(expr, sv)
    # unknown node: cannot prune
    return _true(n)


def all_match(expr: E.Expr, sv: StatsView) -> np.ndarray:
    n = sv.n
    if isinstance(expr, E.AlwaysTrue):
        return _true(n)
    if isinstance(expr, E.AlwaysFalse):
        return _false(n)
    if isinstance(expr, E.And):
        return all_match(expr.left, sv) & all_match(expr.right, sv)
    if isinstance(expr, E.Or):
        return all_match(expr.left, sv) | all_match(expr.right, sv)
    if isinstance(expr, E.Not):
        out = ~might_match(expr.child, sv)
        if not E._null_safe_complement(expr.child):
            # 3-valued child: a NULL row matches neither child nor
            # NOT(child) — strict NOT also needs null-free columns
            # (mirrors Expressions.Not.all_rows_match_file)
            for col in expr.child.references():
                nu = sv.nulls(col)
                if nu is None:
                    return _false(n)
                out &= ~np.isnan(nu) & (nu == 0)
        return out
    if isinstance(expr, E.SpatialPredicate):
        return _false(n)  # spatial strict eval: conservatively never
    if isinstance(expr, E.Predicate):
        return _pred_all(expr, sv)
    return _false(n)


def _null_state(expr: E.Predicate, sv: StatsView):
    nulls = sv.nulls(expr.column)
    if nulls is None:
        nulls = np.full(sv.n, np.nan)
    known_nulls = ~np.isnan(nulls)
    all_null = known_nulls & (nulls >= sv.record_count)
    no_nulls = known_nulls & (nulls == 0)
    return nulls, known_nulls, all_null, no_nulls


def _nan_state(expr: E.Predicate, sv: StatsView):
    """(nans_only, can_nan, no_nan_known) masks — NaN-count semantics
    identical to the scalar evaluators (see expressions.py: Spark's NaN
    ordering, unknown count = assume none, the reference's
    canContainNaNs posture for legacy writers)."""
    nans = sv.nans(expr.column)
    if nans is None:
        nans = np.full(sv.n, np.nan)
    known = ~np.isnan(nans)
    nans_only = known & (nans >= sv.record_count)
    can_nan = known & (nans > 0)
    no_nan_known = known & (nans == 0)
    return nans_only, can_nan, no_nan_known


def _pred_might(expr: E.Predicate, sv: StatsView) -> np.ndarray:
    op, col, v = expr.op, expr.column, expr.value
    n = sv.n
    nulls, known_nulls, all_null, _ = _null_state(expr, sv)
    nans_only, can_nan, no_nan_known = _nan_state(expr, sv)
    if op == "is_null":
        return ~known_nulls | (nulls > 0)
    if op == "not_null":
        return ~all_null
    if op == "is_nan":
        return ~(no_nan_known | all_null)
    if op == "not_nan":
        return ~nans_only
    lo = sv.lower(col)
    hi = sv.upper(col)
    if lo is None or hi is None:
        # no stats column at all: all-null prunes; an all-NaN file also
        # prunes the below/equality family (NaN sorts greatest)
        out = ~all_null
        if op in ("lt", "le", "eq", "in", "starts_with"):
            out = out & ~nans_only
        return out
    lo_na = lo.isna().to_numpy()
    hi_na = hi.isna().to_numpy()
    unknown = lo_na | hi_na  # missing bounds: cannot prune
    if op == "eq":
        ge_lo, k1 = _cmp(lo, v, np.less_equal)  # lo <= v
        le_hi, k2 = _cmp(hi, v, np.greater_equal)  # hi >= v
        res = ge_lo & le_hi
        known = k1 & k2
    elif op == "ne":
        # prunable only when lo == hi == v, no nulls, and no NaNs
        # (NaN != v is true under Spark's ordering)
        lo_eq, k1 = _cmp(lo, v, np.equal)
        hi_eq, k2 = _cmp(hi, v, np.equal)
        res = ~(lo_eq & hi_eq & np.where(known_nulls, nulls == 0, True) & ~can_nan)
        known = k1 & k2
    elif op == "lt":
        res, known = _cmp(lo, v, np.less)
    elif op == "le":
        res, known = _cmp(lo, v, np.less_equal)
    elif op == "gt":
        res, known = _cmp(hi, v, np.greater)
    elif op == "ge":
        res, known = _cmp(hi, v, np.greater_equal)
    elif op == "in":
        res = _false(n)
        known = _true(n)
        for x in v:
            r1, k1 = _cmp(lo, x, np.less_equal)
            r2, k2 = _cmp(hi, x, np.greater_equal)
            res |= r1 & r2
            known &= k1 & k2
    elif op == "not_in":
        # prunable only when lo == hi, that value is in v, and no nulls
        known = _true(n)
        in_set = _false(n)
        same, ks = _lo_eq_hi(lo, hi)
        for x in v:
            e1, k1 = _cmp(lo, x, np.equal)
            in_set |= e1
            known &= k1
        res = ~(same & in_set & np.where(known_nulls, nulls == 0, True) & ~can_nan)
        known &= ks
    elif op == "starts_with":
        p = str(v)
        r1, k1 = _slice_cmp(lo, p, np.less_equal)  # lo[:len] <= p
        r2, k2 = _slice_cmp(hi, p, np.greater_equal)  # hi[:len] >= p
        res = r1 & r2
        known = k1 & k2
    elif op == "not_starts_with":
        p = str(v)
        lo_sw = lo.map(lambda x: (not pd.isna(x)) and str(x).startswith(p))
        hi_sw = hi.map(lambda x: (not pd.isna(x)) and str(x).startswith(p))
        res = ~(
            lo_sw.to_numpy(dtype=bool)
            & hi_sw.to_numpy(dtype=bool)
            & np.where(known_nulls, nulls == 0, True)
        )
        known = _true(n)
    else:
        raise ValueError(f"unknown predicate op {op}")
    out = np.where(unknown | ~known, True, res)
    if op in ("gt", "ge"):
        # NaN rows match any gt/ge finite literal (NaN sorts greatest)
        out = np.where(can_nan, True, out)
    elif op in ("lt", "le", "eq", "in", "starts_with"):
        out = np.where(nans_only, False, out)
    out = np.where(all_null, False, out)
    return out


def _lo_eq_hi(lo: pd.Series, hi: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    known = lo.notna().to_numpy() & hi.notna().to_numpy()
    # element-wise equality across object values is type-safe
    eq_series = lo.combine(
        hi, lambda a, b: bool(a == b) if not (pd.isna(a) or pd.isna(b)) else False
    )
    return eq_series.to_numpy(dtype=bool), known


def _pred_all(expr: E.Predicate, sv: StatsView) -> np.ndarray:
    op, col, v = expr.op, expr.column, expr.value
    n = sv.n
    nulls, known_nulls, all_null, no_nulls = _null_state(expr, sv)
    nans_only, can_nan, no_nan_known = _nan_state(expr, sv)
    if op == "is_null":
        return all_null
    if op == "not_null":
        return no_nulls
    if op == "is_nan":
        return nans_only
    if op == "not_nan":
        # NULL is "not NaN" (2-valued residual), so all-null also matches
        return no_nan_known | all_null
    # all-NaN file: every row exceeds / differs from any finite literal
    nan_must = nans_only if op in ("gt", "ge", "ne", "not_in") else _false(n)
    lo = sv.lower(col)
    hi = sv.upper(col)
    if lo is None or hi is None:
        return nan_must
    bounds_known = ~(lo.isna().to_numpy() | hi.isna().to_numpy()) & known_nulls
    if op == "eq":
        same, ks = _lo_eq_hi(lo, hi)
        eq_v, ke = _cmp(lo, v, np.equal)
        res = no_nulls & same & eq_v & ~can_nan
        known = ks & ke
    elif op == "ne":
        # no all_null term: NULL != v is NULL under Spark SQL 3-valued
        # logic, so an all-null file never strictly matches ne (see the
        # divergence note in expressions.Predicate.all_rows_match_file)
        lt_lo, k1 = _cmp(lo, v, np.greater)  # v < lo
        gt_hi, k2 = _cmp(hi, v, np.less)  # v > hi
        res = no_nulls & (lt_lo | gt_hi)
        known = k1 & k2
    elif op == "lt":
        # NaN rows never match lt/le of a finite literal
        res, known = _cmp(hi, v, np.less)
        res = no_nulls & res & ~can_nan
    elif op == "le":
        res, known = _cmp(hi, v, np.less_equal)
        res = no_nulls & res & ~can_nan
    elif op == "gt":
        # NaN rows DO match gt/ge (NaN sorts greatest)
        res, known = _cmp(lo, v, np.greater)
        res = no_nulls & res
    elif op == "ge":
        res, known = _cmp(lo, v, np.greater_equal)
        res = no_nulls & res
    elif op == "in":
        same, ks = _lo_eq_hi(lo, hi)
        in_set = _false(n)
        known = ks
        for x in v:
            e1, k1 = _cmp(lo, x, np.equal)
            in_set |= e1
            known &= k1
        res = no_nulls & same & in_set & ~can_nan
    elif op == "not_in":
        res = _true(n)
        known = _true(n)
        for x in v:
            r1, k1 = _cmp(lo, x, np.greater)  # x < lo
            r2, k2 = _cmp(hi, x, np.less)  # x > hi
            res &= r1 | r2
            known &= k1 & k2
        res = no_nulls & res
    elif op == "starts_with":
        p = str(v)
        lo_sw = lo.map(lambda x: (not pd.isna(x)) and str(x).startswith(p)).to_numpy(dtype=bool)
        hi_sw = hi.map(lambda x: (not pd.isna(x)) and str(x).startswith(p)).to_numpy(dtype=bool)
        res = no_nulls & lo_sw & hi_sw
        known = _true(n)
    elif op == "not_starts_with":
        p = str(v)
        r1, k1 = _slice_cmp(lo, p, np.less_equal)
        r2, k2 = _slice_cmp(hi, p, np.greater_equal)
        res = no_nulls & ~(r1 & r2)
        known = k1 & k2
    else:
        raise ValueError(f"unknown predicate op {op}")
    return np.where(nan_must, True, np.where(bounds_known & known, res, False))


def _spatial_might(expr: E.SpatialPredicate, sv: StatsView) -> np.ndarray:
    n = sv.n
    bb = sv.bbox(expr.column)
    if bb is None:
        return _true(n)
    fx0, fy0, fx1, fy1 = bb
    has_bbox = ~(np.isnan(fx0) | np.isnan(fy0) | np.isnan(fx1) | np.isnan(fy1))
    q = expr.value.bounds
    if q is None:
        return _false(n)  # empty query geometry matches nothing
    qx0, qy0, qx1, qy1 = q
    if expr.op == "st_intersects":
        res = ~((fx1 < qx0) | (qx1 < fx0) | (fy1 < qy0) | (qy1 < fy0))
    elif expr.op == "st_covers":
        res = (fx0 <= qx0) & (fy0 <= qy0) & (fx1 >= qx1) & (fy1 >= qy1)
    else:
        raise ValueError(f"unknown spatial op {expr.op}")
    return np.where(has_bbox, res, True)


# -- whole-manifest (manifest-list analogue) pruning ------------------------

def manifest_might_match(expr: E.Expr, bounds: dict, renames: dict | None = None) -> bool:
    """Decide from snapshot-level bounds summaries whether the manifest
    can contain any matching file — without reading the manifest
    (reference ManifestGroup.java:251-264 manifest-list pruning).

    ``bounds`` maps physical column -> [min, max] over all data files.
    Only AND-composed simple range predicates prune; anything else is
    conservatively kept.
    """
    if not bounds:
        return True
    phys = {v: k for k, v in (renames or {}).items()}

    def walk(e: E.Expr) -> bool:  # returns "might match"
        if isinstance(e, E.And):
            return walk(e.left) and walk(e.right)
        if isinstance(e, E.Or):
            return walk(e.left) or walk(e.right)
        if isinstance(e, E.SpatialPredicate):
            bb = bounds.get(f"__bbox__{phys.get(e.column, e.column)}")
            q = e.value.bounds
            if not bb:
                return True
            if q is None:
                return False  # empty query geometry matches nothing
            fxmin, fymin, fxmax, fymax = bb
            qxmin, qymin, qxmax, qymax = q
            if e.op == "st_intersects":
                return not (
                    fxmax < qxmin or qxmax < fxmin
                    or fymax < qymin or qymax < fymin
                )
            if e.op == "st_covers":
                return (
                    fxmin <= qxmin and fymin <= qymin
                    and fxmax >= qxmax and fymax >= qymax
                )
            return True
        if isinstance(e, E.Predicate) and e.op in ("eq", "lt", "le", "gt", "ge", "in"):
            b = bounds.get(phys.get(e.column, e.column))
            if not b:
                return True
            lo, hi = b
            try:
                if e.op == "eq":
                    return lo <= e.value <= hi
                if e.op == "lt":
                    return lo < e.value
                if e.op == "le":
                    return lo <= e.value
                if e.op == "gt":
                    return hi > e.value
                if e.op == "ge":
                    return hi >= e.value
                if e.op == "in":
                    return any(lo <= x <= hi for x in e.value)
            except TypeError:
                return True
        return True

    return walk(expr)
