"""Hidden-partitioning transforms.

Re-expresses the reference's transform registry (reference
api/src/main/java/org/apache/iceberg/transforms/Transforms.java:44-68:
identity / bucket[N] / truncate[W] / year / month / day / hour / void /
hilbert[res,minx,miny,maxx,maxy]).  Each transform yields:

- ``spark_column(col)``  — the Catalyst expression that computes the
  partition value at write time (JVM-side for everything except
  hilbert, which is the vectorized one-argument ``arrow_udf`` kernel
  of ``geo.functions.st_hilbert``);
- ``parse_path_value``   — typed value from the hive-style directory
  name that ``partitionBy`` produced.

Partition values in this engine are human-readable (year number,
'YYYY-MM' month, …) rather than Iceberg's epoch-relative ordinals —
physical-layout portability to the reference is a documented non-goal;
pruning correctness comes from column stats, not partition-value
parity (SURVEY §1.3 caveat).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column

from iceberg_geo_poc_spark.geo.hilbert import DEFAULT_BOUNDS, check_hilbert_params


@dataclass(frozen=True)
class Transform:
    name: str

    def spark_column(self, col: str) -> Column:
        raise NotImplementedError

    def parse_path_value(self, raw: str):
        """Typed partition value from its path string form."""
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return raw

    def result_name(self, col: str) -> str:
        return f"{col}_{self.name}" if self.name != "identity" else col


@dataclass(frozen=True)
class Identity(Transform):
    name: str = "identity"

    def spark_column(self, col: str) -> Column:
        return F.col(col)


@dataclass(frozen=True)
class Bucket(Transform):
    """``bucket[N]`` — engine-native numbering via Spark's ``F.hash``
    (Murmur3-32 seed 42 over Spark's value layout): JVM-side, codegen,
    self-consistent for tables this engine writes.  ``bucket[N,iceberg]``
    — the SPEC numbering (Murmur3-32 seed 0 over Iceberg single-value
    serialization, reference transforms/Bucket.java + BucketUtil.java,
    spec Appendix B) via a vectorized pandas UDF; REQUIRED for layouts
    imported from a genuine Iceberg writer so partition values, engine
    appends, and storage-partitioned joins agree with the foreign files.
    """

    n: int = 16
    spec_hash: bool = False
    name: str = "bucket"

    def spark_column(self, col: str) -> Column:
        if self.spec_hash:
            from iceberg_geo_poc_spark.table.iceberg_bucket import bucket_udf

            return bucket_udf(self.n)(F.col(col))
        # Spark's hash() = Murmur3-32; pmod keeps the bucket non-negative.
        # Analogue of reference transforms/Bucket.java (Murmur3 mod N).
        return F.pmod(F.hash(F.col(col)), F.lit(self.n))

    def parse_path_value(self, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return int(raw)

    def result_name(self, col: str) -> str:
        return f"{col}_bucket_{self.n}"


@dataclass(frozen=True)
class Truncate(Transform):
    width: int = 10
    name: str = "truncate"

    def spark_column(self, col: str) -> Column:
        # string prefix truncation (reference transforms/Truncate.java);
        # integral truncation is TruncateInt
        return F.substring(F.col(col), 1, self.width)

    def result_name(self, col: str) -> str:
        return f"{col}_trunc_{self.width}"


@dataclass(frozen=True)
class TruncateInt(Transform):
    width: int = 10
    name: str = "truncate_int"

    def spark_column(self, col: str) -> Column:
        c = F.col(col)
        return c - F.pmod(c, F.lit(self.width))

    def parse_path_value(self, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return int(raw)

    def result_name(self, col: str) -> str:
        return f"{col}_trunc_{self.width}"


@dataclass(frozen=True)
class Year(Transform):
    name: str = "year"

    def spark_column(self, col: str) -> Column:
        return F.year(F.col(col))

    def parse_path_value(self, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return int(raw)


@dataclass(frozen=True)
class Month(Transform):
    name: str = "month"

    def spark_column(self, col: str) -> Column:
        return F.date_format(F.col(col), "yyyy-MM")


@dataclass(frozen=True)
class Day(Transform):
    name: str = "day"

    def spark_column(self, col: str) -> Column:
        return F.date_format(F.col(col), "yyyy-MM-dd")


@dataclass(frozen=True)
class Hour(Transform):
    name: str = "hour"

    def spark_column(self, col: str) -> Column:
        return F.date_format(F.col(col), "yyyy-MM-dd-HH")


@dataclass(frozen=True)
class Void(Transform):
    name: str = "void"

    def spark_column(self, col: str) -> Column:
        return F.lit(None).cast("string")


@dataclass(frozen=True)
class Hilbert(Transform):
    """Hilbert curve bucket of a geometry column (reference
    transforms/Hilbert.java:32-142).  The partition value is the curve
    index right-shifted so the partition count stays manageable; file
    pruning for spatial predicates relies on bbox metrics, not on
    projecting predicates into curve ranges (Hilbert.java:99-110 does
    the same)."""

    resolution: int = 10
    bounds: tuple[float, float, float, float] = DEFAULT_BOUNDS
    shift: int = 12  # partitions = 4^res >> shift
    name: str = "hilbert"

    def spark_column(self, col) -> Column:
        from iceberg_geo_poc_spark.geo.functions import st_hilbert

        src = F.col(col) if isinstance(col, str) else col
        idx = st_hilbert(src, self.resolution, self.bounds)
        return F.shiftright(idx, self.shift)

    def parse_path_value(self, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        return int(raw)

    def result_name(self, col: str) -> str:
        return f"{col}_hilbert_{self.resolution}"


_TRANSFORM_RE = re.compile(
    r"^(?P<base>[a-z_]+)(\[(?P<args>[^\]]*)\])?$"
)


def parse_transform(spec: str) -> Transform:
    """Parse 'identity' | 'bucket[16]' | 'truncate[4]' | 'year' | 'month'
    | 'day' | 'hour' | 'void' | 'hilbert[10]' | 'hilbert[10,-180,-90,180,90]'
    (string grammar mirroring reference Transforms.java:44-68)."""
    m = _TRANSFORM_RE.match(spec.strip())
    if not m:
        raise ValueError(f"cannot parse transform {spec!r}")
    base = m.group("base")
    args = [a.strip() for a in (m.group("args") or "").split(",") if a.strip()]
    if base == "identity":
        return Identity()
    if base == "bucket":
        spec_hash = len(args) > 1 and args[1] == "iceberg"
        return Bucket(n=int(args[0]), spec_hash=spec_hash)
    if base == "truncate":
        return Truncate(width=int(args[0]))
    if base == "truncate_int":
        return TruncateInt(width=int(args[0]))
    if base == "year":
        return Year()
    if base == "month":
        return Month()
    if base == "day":
        return Day()
    if base == "hour":
        return Hour()
    if base == "void":
        return Void()
    if base == "hilbert":
        if len(args) not in (0, 1, 5):
            raise ValueError(
                f"hilbert takes [res] or [res,minx,miny,maxx,maxy], got {spec!r}"
            )
        res, bounds = check_hilbert_params(
            int(args[0]) if args else 10, args[1:] or DEFAULT_BOUNDS
        )
        return Hilbert(resolution=res, bounds=bounds)
    raise ValueError(f"unknown transform {base!r}")


@dataclass(frozen=True)
class PartitionField:
    source: str  # source column name
    transform: Transform

    @property
    def name(self) -> str:
        return self.transform.result_name(self.source)

    def to_json(self) -> dict:
        t = self.transform
        if isinstance(t, Bucket):
            spec = f"bucket[{t.n},iceberg]" if t.spec_hash else f"bucket[{t.n}]"
        elif isinstance(t, Truncate):
            spec = f"truncate[{t.width}]"
        elif isinstance(t, TruncateInt):
            spec = f"truncate_int[{t.width}]"
        elif isinstance(t, Hilbert):
            spec = f"hilbert[{t.resolution},{','.join(map(str, t.bounds))}]"
        else:
            spec = t.name
        return {"source": self.source, "transform": spec}

    @staticmethod
    def from_json(obj: dict) -> "PartitionField":
        return PartitionField(obj["source"], parse_transform(obj["transform"]))
