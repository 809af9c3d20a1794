"""Predicate expression tree: bind once, evaluate three ways.

Mirrors the reference's expression design (reference
api/src/main/java/org/apache/iceberg/expressions/Expressions.java:34-309,
Expression.java:27-52 for the op set, incl. the fork's ST_INTERSECTS /
ST_COVERS at :47-48) with three evaluators:

- ``to_spark_column``  — residual row-level filter (Catalyst column;
  ``st_intersects`` of a point-only column and a rectangle is a JVM
  comparison of the coordinate bytes, every other geo predicate goes
  through the Arrow-UDF kernel), the analogue of
  api/.../expressions/Evaluator.java;
- ``might_match_file`` — inclusive metrics evaluator over per-file
  stats incl. geometry bbox, the analogue of
  api/.../expressions/InclusiveMetricsEvaluator.java:59-542;
- ``all_rows_match_file`` — strict metrics evaluator (used for
  metadata-only deletes), the analogue of
  api/.../expressions/StrictMetricsEvaluator.java.

Inclusive semantics make double-filtering safe: pruning keeps any file
that MIGHT contain a match, and the full predicate is re-applied as a
DataFrame filter (SURVEY §4.1).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column

from iceberg_geo_poc_spark.geo.geometry import Geometry


class Expr:
    def __and__(self, other: "Expr") -> "Expr":
        return And(self, other)

    def __or__(self, other: "Expr") -> "Expr":
        return Or(self, other)

    def __invert__(self) -> "Expr":
        return self.negate()

    def negate(self) -> "Expr":
        return Not(self)

    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        """The residual row filter.  ``geo_encodings`` maps geometry
        columns to their encoding; ``points`` names the geometry columns
        whose every non-null value in the scanned files is a plain WKB
        point (the manifest's per-file flag)."""
        raise NotImplementedError

    def might_match_file(self, stats: "FileStats") -> bool:
        raise NotImplementedError

    def all_rows_match_file(self, stats: "FileStats") -> bool:
        raise NotImplementedError

    def references(self) -> set[str]:
        raise NotImplementedError


@dataclass
class FileStats:
    """Per-file stats view used by the evaluators.

    ``lower``/``upper`` map column -> min/max (None when absent),
    ``nulls`` maps column -> null count, ``bbox`` maps geometry column
    -> (xmin, ymin, xmax, ymax) or None, ``nans`` maps float/double
    column -> NaN count (absent = unknown, e.g. legacy manifests).
    """

    record_count: int
    lower: dict[str, Any]
    upper: dict[str, Any]
    nulls: dict[str, int]
    bbox: dict[str, tuple[float, float, float, float] | None]
    nans: dict[str, int] = field(default_factory=dict)


@dataclass(frozen=True)
class AlwaysTrue(Expr):
    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        return F.lit(True)

    def might_match_file(self, stats: FileStats) -> bool:
        return True

    def all_rows_match_file(self, stats: FileStats) -> bool:
        return True

    def negate(self) -> Expr:
        return AlwaysFalse()

    def references(self) -> set[str]:
        return set()


@dataclass(frozen=True)
class AlwaysFalse(Expr):
    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        return F.lit(False)

    def might_match_file(self, stats: FileStats) -> bool:
        return False

    def all_rows_match_file(self, stats: FileStats) -> bool:
        return False

    def negate(self) -> Expr:
        return AlwaysTrue()

    def references(self) -> set[str]:
        return set()


@dataclass(frozen=True)
class And(Expr):
    left: Expr
    right: Expr

    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        return (
            self.left.to_spark_column(geo_encodings, points)
            & self.right.to_spark_column(geo_encodings, points)
        )

    def might_match_file(self, stats: FileStats) -> bool:
        return self.left.might_match_file(stats) and self.right.might_match_file(stats)

    def all_rows_match_file(self, stats: FileStats) -> bool:
        return self.left.all_rows_match_file(stats) and self.right.all_rows_match_file(stats)

    def negate(self) -> Expr:
        return Or(self.left.negate(), self.right.negate())

    def references(self) -> set[str]:
        return self.left.references() | self.right.references()


@dataclass(frozen=True)
class Or(Expr):
    left: Expr
    right: Expr

    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        return (
            self.left.to_spark_column(geo_encodings, points)
            | self.right.to_spark_column(geo_encodings, points)
        )

    def might_match_file(self, stats: FileStats) -> bool:
        return self.left.might_match_file(stats) or self.right.might_match_file(stats)

    def all_rows_match_file(self, stats: FileStats) -> bool:
        return self.left.all_rows_match_file(stats) or self.right.all_rows_match_file(stats)

    def negate(self) -> Expr:
        return And(self.left.negate(), self.right.negate())

    def references(self) -> set[str]:
        return self.left.references() | self.right.references()


@dataclass(frozen=True)
class Not(Expr):
    child: Expr

    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        return ~self.child.to_spark_column(geo_encodings, points)

    def might_match_file(self, stats: FileStats) -> bool:
        # inclusive NOT: cannot prune unless the child strictly matches
        # every row (then NOT matches none)
        return not self.child.all_rows_match_file(stats)

    def all_rows_match_file(self, stats: FileStats) -> bool:
        # NOT(child) is an exact complement only for 2-valued children
        # (spatial/null-test predicates, which evaluate NULL input to a
        # definite boolean).  For 3-valued children a NULL row matches
        # neither child nor NOT(child), so "no row matches child" does
        # not imply "every row matches NOT(child)" unless the referenced
        # columns are null-free.
        if not _null_safe_complement(self.child):
            for col in self.child.references():
                if stats.nulls.get(col) != 0:
                    return False
        return not self.child.might_match_file(stats)

    def negate(self) -> Expr:
        return self.child

    def references(self) -> set[str]:
        return self.child.references()


_NEGATIONS = {
    "eq": "ne", "ne": "eq", "lt": "ge", "ge": "lt", "gt": "le", "le": "gt",
    "is_null": "not_null", "not_null": "is_null",
    "is_nan": "not_nan", "not_nan": "is_nan",
    "in": "not_in", "not_in": "in",
    "starts_with": "not_starts_with", "not_starts_with": "starts_with",
}


@dataclass(frozen=True)
class Predicate(Expr):
    op: str
    column: str
    value: Any = None

    def references(self) -> set[str]:
        return {self.column}

    def negate(self) -> Expr:
        if self.op in _NEGATIONS:
            return Predicate(_NEGATIONS[self.op], self.column, self.value)
        return Not(self)

    # -- row-level (residual) -------------------------------------------
    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        c = F.col(self.column)
        op, v = self.op, self.value
        if op == "eq":
            return c == F.lit(v)
        if op == "ne":
            return c != F.lit(v)
        if op == "lt":
            return c < F.lit(v)
        if op == "le":
            return c <= F.lit(v)
        if op == "gt":
            return c > F.lit(v)
        if op == "ge":
            return c >= F.lit(v)
        if op == "is_null":
            return c.isNull()
        if op == "not_null":
            return c.isNotNull()
        if op == "is_nan":
            # 2-valued: NULL input is "not NaN" (reference NaNUtil.isNaN
            # on a null eval returns false; Evaluator.java isNaN)
            return c.isNotNull() & F.isnan(c)
        if op == "not_nan":
            return c.isNull() | ~F.isnan(c)
        if op == "in":
            return c.isin(list(v))
        if op == "not_in":
            return ~c.isin(list(v))
        if op == "starts_with":
            return c.startswith(v)
        if op == "not_starts_with":
            return ~c.startswith(v)
        raise ValueError(f"unknown predicate op {op}")

    # -- inclusive metrics eval (file pruning) --------------------------
    #
    # NaN semantics follow this engine's row engine — Spark SQL (and the
    # DuckDB oracle, verified identical): NaN sorts GREATER than every
    # other value and NaN = NaN is true.  This differs from the
    # reference's Java semantics (NaN matches no literal predicate);
    # pruning must agree with the residual filter, so Spark's rules win:
    # NaN rows match gt/ge/ne of a finite literal and never match
    # lt/le/eq/in.  Bounds never contain NaN (manifest._enc_stat drops
    # them), and a missing nan count (legacy manifest) is treated as
    # zero NaNs — the reference's posture for early-writer files
    # (StrictMetricsEvaluator.canContainNaNs).
    def might_match_file(self, s: FileStats) -> bool:
        op, col, v = self.op, self.column, self.value
        lo = s.lower.get(col)
        hi = s.upper.get(col)
        nulls = s.nulls.get(col)
        all_null = nulls is not None and s.record_count is not None and nulls >= s.record_count
        nans = s.nans.get(col)
        nans_only = (
            nans is not None and s.record_count is not None and nans >= s.record_count
        )
        can_nan = nans is not None and nans > 0

        if op == "is_null":
            return nulls is None or nulls > 0
        if op == "not_null":
            return not all_null
        if op == "is_nan":
            # no NaNs recorded, or only nulls: cannot match
            return not (nans == 0 or all_null)
        if op == "not_nan":
            return not nans_only
        if all_null:
            return False  # value predicates never match null
        if nans_only and op in ("lt", "le", "eq", "in", "starts_with"):
            return False  # every row NaN: never below/equal to a finite literal
        if op in ("gt", "ge") and can_nan:
            return True  # NaN rows match any gt/ge finite literal
        if lo is None or hi is None:
            return True  # missing stats: cannot prune
        try:
            if op == "eq":
                return lo <= v <= hi
            if op == "ne":
                return not (lo == hi == v and (nulls or 0) == 0 and not can_nan)
            if op == "lt":
                return lo < v
            if op == "le":
                return lo <= v
            if op == "gt":
                return hi > v
            if op == "ge":
                return hi >= v
            if op == "in":
                return any(lo <= x <= hi for x in v)
            if op == "not_in":
                return not (lo == hi and lo in v and (nulls or 0) == 0 and not can_nan)
            if op == "starts_with":
                p = str(v)
                return str(lo)[: len(p)] <= p <= str(hi)[: len(p)]
            if op == "not_starts_with":
                return not (
                    str(lo).startswith(str(v))
                    and str(hi).startswith(str(v))
                    and (nulls or 0) == 0
                )
        except TypeError:
            return True  # incomparable stats: keep the file
        raise ValueError(f"unknown predicate op {op}")

    # -- strict metrics eval (metadata-only ops) ------------------------
    def all_rows_match_file(self, s: FileStats) -> bool:
        op, col, v = self.op, self.column, self.value
        lo = s.lower.get(col)
        hi = s.upper.get(col)
        nulls = s.nulls.get(col)
        record_count = s.record_count
        no_nulls = nulls == 0
        all_null = (
            nulls is not None and record_count is not None and nulls >= record_count
        )
        nans = s.nans.get(col)
        nans_only = (
            nans is not None and record_count is not None and nans >= record_count
        )
        can_nan = nans is not None and nans > 0

        if op == "is_null":
            return all_null
        if op == "not_null":
            return nulls == 0
        if op == "is_nan":
            return nans_only
        if op == "not_nan":
            # a NULL value is "not NaN" (see to_spark_column), so an
            # all-null file strictly matches too
            return nans == 0 or all_null
        if nans_only and op in ("gt", "ge", "ne", "not_in"):
            # every row NaN: NaN sorts greatest, so all rows exceed /
            # differ from any finite literal (finite because NaN
            # literals are normalized away by the factories)
            return True
        if lo is None or hi is None or nulls is None:
            return False
        try:
            if op == "eq":
                return no_nulls and lo == hi == v and not can_nan
            if op == "ne":
                # NOTE: diverges from the reference's StrictMetricsEvaluator,
                # which lets an all-null file strictly match notEq (Iceberg's
                # Java Evaluator treats NULL != v as true).  This engine's
                # row semantics are Spark SQL's 3-valued logic, where
                # NULL != v is NULL (not matched) — an all-null file must
                # NOT claim a strict match or a metadata-only DELETE drops
                # rows SQL would keep.
                return no_nulls and (v < lo or v > hi)
            if op == "lt":
                # NaN rows never match lt/le of a finite literal
                return no_nulls and hi < v and not can_nan
            if op == "le":
                return no_nulls and hi <= v and not can_nan
            if op == "gt":
                # NaN rows DO match gt/ge (NaN sorts greatest), so a
                # nonzero nan count does not break the strict claim
                return no_nulls and lo > v
            if op == "ge":
                return no_nulls and lo >= v
            if op == "in":
                return no_nulls and lo == hi and lo in v and not can_nan
            if op == "not_in":
                return no_nulls and all(v_ < lo or v_ > hi for v_ in v)
            if op == "starts_with":
                return (
                    no_nulls
                    and str(lo).startswith(str(v))
                    and str(hi).startswith(str(v))
                )
            if op == "not_starts_with":
                p = str(v)
                return no_nulls and not (
                    str(lo)[: len(p)] <= p <= str(hi)[: len(p)]
                )
        except TypeError:
            return False
        raise ValueError(f"unknown predicate op {op}")


@dataclass(frozen=True)
class SpatialPredicate(Expr):
    """ST_INTERSECTS / ST_COVERS against a geometry literal.

    File-level pruning matches reference
    InclusiveMetricsEvaluator.java:485-542: intersects prunes when the
    file bbox is disjoint from the query envelope; covers prunes when
    the file bbox cannot cover the query envelope.

    The row-level form is 2-valued: a NULL geometry row gives false, so
    ``NOT`` is its exact complement (``_null_safe_complement``).
    ``st_intersects`` of a column in ``points`` with an axis-aligned
    rectangle runs in the JVM (``functions.st_intersects_points_rect``);
    every other case runs the Arrow kernel, which gives the same rows.
    """

    op: str  # "st_intersects" | "st_covers"
    column: str
    value: Geometry

    def references(self) -> set[str]:
        return {self.column}

    def to_spark_column(
        self, geo_encodings: "dict | None" = None, points: frozenset = frozenset()
    ) -> Column:
        from iceberg_geo_poc_spark.geo.functions import (
            as_wkb,
            geo_literal,
            st_covers_udf,
            st_intersects_points_rect,
            st_intersects_udf,
        )

        if self.op == "st_intersects" and self.column in points:
            cond = st_intersects_points_rect(self.column, self.value)
            if cond is not None:
                return cond
        lit = geo_literal(self.value)
        # wkt/geojson columns are STRING physically: decode to WKB first
        # (reference readers decode by declared encoding the same way,
        # ParquetGeometryValueReaders)
        col = as_wkb(self.column, (geo_encodings or {}).get(self.column))
        if self.op == "st_intersects":
            cond = st_intersects_udf(col, lit)
        elif self.op == "st_covers":
            cond = st_covers_udf(col, lit)
        else:
            raise ValueError(f"unknown spatial op {self.op}")
        # three-valued semantics: NULL geometry rows do not match
        return cond.isNotNull() & cond

    def might_match_file(self, s: FileStats) -> bool:
        bbox = s.bbox.get(self.column)
        if bbox is None:
            return True  # no bbox metric recorded: cannot prune
        q = self.value.bounds
        if q is None:
            return False  # empty query geometry matches nothing
        fxmin, fymin, fxmax, fymax = bbox
        qxmin, qymin, qxmax, qymax = q
        if self.op == "st_intersects":
            return not (
                fxmax < qxmin or qxmax < fxmin or fymax < qymin or qymax < fymin
            )
        if self.op == "st_covers":
            # a row can only cover the query window if the file bbox does
            return fxmin <= qxmin and fymin <= qymin and fxmax >= qxmax and fymax >= qymax
        raise ValueError(f"unknown spatial op {self.op}")

    def all_rows_match_file(self, s: FileStats) -> bool:
        return False  # spatial strict eval: conservatively never


def _null_safe_complement(e: Expr) -> bool:
    """True when ``NOT(e)`` is an exact row-set complement even on NULL
    input — i.e. ``e`` is 2-valued: it evaluates NULL input to a definite
    boolean.  Spatial predicates qualify because ``to_spark_column``
    wraps them as ``cond.isNotNull() & cond`` (the JVM point form as
    ``coalesce(cond, false)``); null-test predicates are 2-valued by
    definition."""
    if isinstance(e, (AlwaysTrue, AlwaysFalse, SpatialPredicate)):
        return True
    if isinstance(e, Predicate):
        return e.op in ("is_null", "not_null", "is_nan", "not_nan")
    if isinstance(e, (And, Or)):
        return _null_safe_complement(e.left) and _null_safe_complement(e.right)
    if isinstance(e, Not):
        return _null_safe_complement(e.child)
    return False


# -- factory API -----------------------------------------------------------

def ref(column: str) -> str:
    return column


def _is_nan_literal(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


# NaN literals are normalized into null-test-style predicates at
# construction time so the evaluators only ever see finite literals.
# Under Spark/DuckDB total ordering (NaN greatest, NaN = NaN true):
#   x =  NaN  <=> is_nan(x)          x != NaN  <=> not_nan(x)
#   x >  NaN  <=> false              x >= NaN  <=> is_nan(x)
#   x <  NaN  <=> not_null & not_nan x <= NaN  <=> not_null(x)

def eq(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return Predicate("is_nan", column)
    return Predicate("eq", column, value)


def ne(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return Predicate("not_nan", column)
    return Predicate("ne", column, value)


def lt(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return And(Predicate("not_null", column), Predicate("not_nan", column))
    return Predicate("lt", column, value)


def le(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return Predicate("not_null", column)
    return Predicate("le", column, value)


def gt(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return AlwaysFalse()
    return Predicate("gt", column, value)


def ge(column: str, value) -> Expr:
    if _is_nan_literal(value):
        return Predicate("is_nan", column)
    return Predicate("ge", column, value)


def is_null(column: str) -> Expr:
    return Predicate("is_null", column)


def not_null(column: str) -> Expr:
    return Predicate("not_null", column)


def is_nan(column: str) -> Expr:
    return Predicate("is_nan", column)


def not_nan(column: str) -> Expr:
    return Predicate("not_nan", column)


def in_(column: str, values) -> Expr:
    vals = tuple(values)
    rest = tuple(v for v in vals if not _is_nan_literal(v))
    if len(rest) < len(vals):
        nan_side = Predicate("is_nan", column)
        return Or(nan_side, Predicate("in", column, rest)) if rest else nan_side
    return Predicate("in", column, vals)


def not_in(column: str, values) -> Expr:
    vals = tuple(values)
    rest = tuple(v for v in vals if not _is_nan_literal(v))
    if len(rest) < len(vals):
        nan_side = Predicate("not_nan", column)
        # not_in(rest) is NULL (excluded) for NULL rows, preserving
        # 3-valued semantics of the composite
        return (
            And(Predicate("not_in", column, rest), nan_side)
            if rest
            else And(Predicate("not_null", column), nan_side)
        )
    return Predicate("not_in", column, vals)


def starts_with(column: str, prefix: str) -> Expr:
    return Predicate("starts_with", column, prefix)


def st_intersects(column: str, geom: Geometry) -> Expr:
    return SpatialPredicate("st_intersects", column, geom)


def st_covers(column: str, geom: Geometry) -> Expr:
    return SpatialPredicate("st_covers", column, geom)


def and_(*exprs: Expr) -> Expr:
    out = exprs[0]
    for e in exprs[1:]:
        out = And(out, e)
    return out


def or_(*exprs: Expr) -> Expr:
    out = exprs[0]
    for e in exprs[1:]:
        out = Or(out, e)
    return out


def not_(e: Expr) -> Expr:
    return e.negate()


always_true = AlwaysTrue
always_false = AlwaysFalse
