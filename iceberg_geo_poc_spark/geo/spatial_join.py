"""Distributed spatial join via grid blocking (PBSM-style).

The reference delegates spatial JOIN execution to the host engine
(Sedona via the GeospatialLibrary SPI, reference README.md:28-29); this
module supplies the engine-side operator for our PySpark engine.

Shape: partition-based spatial merge —

1. each side computes its envelope once (four Arrow-batched accessor
   UDF columns; points cost the same as polygons),
2. every geometry explodes into the grid cells its envelope overlaps
   (pure `sequence`/`transform` codegen expressions),
3. one equi-join on the cell id — the only shuffle, keyed so
   spatially-close geometries co-locate,
4. a codegen bbox prefilter discards non-overlapping envelope pairs
   before any geometry work,
5. the classic *reference-point rule* drops duplicate cell matches
   without a `distinct` shuffle: a pair is kept only in the cell that
   contains the top-left corner of the envelope intersection,
6. the exact predicate (`st_intersects`) runs last, only on surviving
   pairs.  When the right geometry is built by a vectorized constructor
   (st_point, st_makeenvelope, st_diamond) from plain columns and its
   bounds are given, steps 1-5 never build it: the constructor's
   arguments ride through the join, and one fused kernel builds the
   geometry and tests each surviving pair, so the broadcast side runs
   no Python at all.

At 100 TB the cell id doubles as a hidden partition column (same
substrate as bucket/hilbert), turning step 3 into a storage-partitioned
join; skewed cells (a world-spanning polygon) are the signal to lower
`cell_size` or pre-split giants, exactly as in any PBSM system.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from iceberg_geo_poc_spark.geo.functions import (
    built_intersects_udf,
    st_bounds_udf,
    st_diamond_udf,
    st_intersects,
    st_makeenvelope_udf,
    st_point_udf,
)

# vectorized constructors a build-side geometry can be built through
# after the join, by the name its PythonUDF carries in a plan
_DEFERRABLE = {
    u.__name__: u for u in (st_point_udf, st_makeenvelope_udf, st_diamond_udf)
}


def _node(j) -> str:
    return j.getClass().getSimpleName()


def _seq(j) -> list:
    return [j.apply(i) for i in range(j.size())]


def _deferred_constructor(right: DataFrame, geom: str, left_cols: list[str]):
    """(constructor UDF, argument column names) when ``right``'s
    column ``geom`` is one of the `_DEFERRABLE` constructors applied to
    columns that the same top ``Project`` passes through unchanged; None
    otherwise, or when a column name of the two sides would clash.  A
    read-only walk of the analyzed plan, matched by node class."""
    names = [c.lower() for c in (*left_cols, *right.columns)]
    if len(set(names)) != len(names):
        return None
    plan = right._jdf.queryExecution().analyzed()
    if _node(plan) != "Project":
        return None
    items = [(_node(e), e.name(), e) for e in _seq(plan.projectList())]
    passed = {
        e.exprId().id(): name
        for kind, name, e in items
        if kind == "AttributeReference"
    }
    built = [(kind, e) for kind, name, e in items if name == geom]
    if len(built) != 1 or built[0][0] != "Alias":
        return None
    udf = built[0][1].child()
    if _node(udf) != "PythonUDF" or udf.name() not in _DEFERRABLE:
        return None
    ctor = _DEFERRABLE[udf.name()]
    if udf.evalType() != ctor.evalType:
        return None
    args = []
    for a in _seq(udf.children()):
        if _node(a) != "AttributeReference" or a.exprId().id() not in passed:
            return None
        args.append(passed[a.exprId().id()])
    return ctor, args


def _cells_expr(pre: str, cell_size: float):
    return F.expr(
        f"flatten(transform("
        f"sequence(CAST(floor({pre}xmin / {cell_size}) AS INT),"
        f"         CAST(floor({pre}xmax / {cell_size}) AS INT)),"
        f" cx -> transform("
        f"sequence(CAST(floor({pre}ymin / {cell_size}) AS INT),"
        f"         CAST(floor({pre}ymax / {cell_size}) AS INT)),"
        f" cy -> struct(cx AS cx, cy AS cy))))"
    )


def _adaptive_cell_size(L: DataFrame, R: DataFrame) -> float:
    """Density-adaptive grid size (PBSM tuning): pick a cell ≈ 2× the
    typical envelope extent — each geometry explodes into ~1-4 cells —
    floored at span/1024 (bounds the global cell count) and capped at
    span/8 (keeps the equi-join selective).  Costs one small aggregation
    per side over the already-computed bound columns; use when BOTH join
    sides grow with the data (a fixed dimension side keeps candidate
    growth linear under a fixed grid — measured 10.0x pairs at 10x fact
    data in BENCH_r12 — but two densifying sides need the grid to track
    the geometry scale, not a constant)."""
    stats = []
    for df, p in ((L, "l"), (R, "r")):
        row = df.agg(
            F.avg(F.col(f"__{p}xmax") - F.col(f"__{p}xmin")).alias("w"),
            F.avg(F.col(f"__{p}ymax") - F.col(f"__{p}ymin")).alias("h"),
            F.min(f"__{p}xmin").alias("x0"),
            F.max(f"__{p}xmax").alias("x1"),
            F.min(f"__{p}ymin").alias("y0"),
            F.max(f"__{p}ymax").alias("y1"),
        ).collect()[0]
        stats.append(row)
    if any(s["x0"] is None or s["x1"] is None or s["y0"] is None
           or s["y1"] is None for s in stats):
        # an EMPTY side (or all-NULL bounds) has no span — the join
        # result is empty whatever the grid.  Pick a cell LARGE enough
        # that the non-empty side explodes into ~1 cell per geometry
        # (a tiny fallback would fan each envelope into billions of
        # cells before the empty join); span/8 of whichever sides have
        # bounds, or 1.0 when both are empty.
        spans = [
            max(s["x1"] - s["x0"], s["y1"] - s["y0"], 1e-9)
            for s in stats
            if s["x0"] is not None and s["x1"] is not None
            and s["y0"] is not None and s["y1"] is not None
        ]
        return float(max(spans) / 8.0) if spans else 1.0
    ext = max(
        *[s["w"] or 0.0 for s in stats], *[s["h"] or 0.0 for s in stats], 1e-9
    )
    span = max(
        max(s["x1"] for s in stats) - min(s["x0"] for s in stats),
        max(s["y1"] for s in stats) - min(s["y0"] for s in stats),
        1e-9,
    )
    return float(min(max(2.0 * ext, span / 1024.0), span / 8.0))


def grid_spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str = "geom",
    right_geom: str = "geom",
    cell_size: float | None = 10.0,
    distance: float | None = None,
    left_bounds: tuple | None = None,
    right_bounds: tuple | None = None,
    rect_exact: bool = False,
    exact_predicate=None,
) -> DataFrame:
    """Pairs of (left row, right row) whose geometries intersect — or,
    with ``distance=d``, lie within distance d (st_dwithin semantics:
    the right side's envelopes and cells are dilated by d, the exact
    predicate becomes ``st_distance <= d``).

    ``cell_size=None`` selects the grid ADAPTIVELY from measured
    envelope density (`_adaptive_cell_size`) — the right mode when both
    join sides grow with the data; a fixed cell (the default) is exact
    and cheaper when one side is a bounded dimension.

    ``left_bounds`` / ``right_bounds`` optionally supply the envelope as
    four Columns/expressions ``(xmin, ymin, xmax, ymax)``.  When the
    geometry is CONSTRUCTED (envelope around a point, fixed-radius
    diamond/buffer, cell polygon), its bounds are plain arithmetic the
    caller already knows — passing them keeps the entire
    explode+join+prefilter pipeline in whole-stage codegen and skips an
    Arrow round-trip of the full geometry column per side.  Unsupplied
    sides fall back to one st_bounds_udf pass (still a single Arrow
    transfer for all four corners).

    ``exact_predicate`` optionally supplies the exact pair test as a
    boolean Column over the joined rows, replacing the default
    ``st_intersects(left_geom, right_geom)`` (or the distance test).
    Pass one of the FUSED pair kernels (``st_diamond_pair_intersects``
    & co., geo/functions.py) when both geometries are constructed from
    coordinate columns: the builder+predicate composition then runs as
    a single ArrowEvalPython node taking only float64 columns across
    the Python boundary — one boundary crossing instead of three, no
    WKB payload through the join — while evaluating the identical
    builder bytes and predicate kernel.  The caller owns semantic
    equivalence with the composed form (asserted for the shipped
    kernels by tests/test_geo_fused_pair.py); geometry columns need
    not exist on either input in this mode.

    Deferred build side: when ``right_bounds`` is given, the default
    ``st_intersects`` test applies (no ``exact_predicate``, ``distance``
    or ``rect_exact``), the geometry names differ, and ``right_geom`` is
    ``st_point`` / ``st_makeenvelope`` / ``st_diamond`` applied to
    columns that ``right``'s last ``select`` passes through unchanged,
    the geometry is built after the join instead of before it: the
    join carries the constructor's arguments, the exact test is one
    fused kernel ``st_intersects(left_geom, ctor(*args))`` per surviving
    pair, and ``right_geom`` is added back as ``ctor(*args)`` in its
    place.  The geometry bytes are identical (the same constructor on
    the same values); a caller that uses ``right_geom`` afterwards gets
    it built once per output pair, and Spark drops it when unused.  Any
    other right side, or a column name on both sides, takes the plan
    that builds the geometry first.

    ``rect_exact=True`` asserts both geometries ARE axis-aligned
    rectangles equal to their envelopes (e.g. both built with
    st_makeenvelope).  For rectangles the envelope-overlap prefilter is
    *exactly* st_intersects, so the Python kernel pass is elided and the
    whole join — explode, equi-join, prefilter, reference-point dedup —
    stays in whole-stage codegen.  This is the standard envelope-join
    optimization; a wrong assertion silently widens results, so it is
    opt-in and ignored for ``distance`` joins.

    Column names of the two inputs must be disjoint apart from the
    geometry columns (standard join hygiene).  Returns all left + right
    columns; geometry columns keep their original names (the right one
    is suffixed with `_r` when both sides use the same name).
    """
    d = float(distance) if distance is not None else 0.0
    deferred = None
    if (
        right_bounds is not None
        and exact_predicate is None
        and distance is None
        and not rect_exact
        and right_geom != left_geom
    ):
        deferred = _deferred_constructor(right, right_geom, left.columns)
    rg = right_geom
    if right_geom == left_geom:
        rg = f"{right_geom}_r"
        right = right.withColumnRenamed(right_geom, rg)

    # Each DataFrame method call below costs one py4j round trip plus a
    # full analyzer pass over the accumulated plan — measured at ~250 ms
    # of per-iteration DRIVER time for the geo bench queries when this
    # pipeline was built from ~15 chained withColumn/filter calls.  The
    # same plan is now assembled from single select/filter calls per
    # logical step (identical physical plan, ~half the analysis work).
    def _with_bounds(df, geom_col, prefix, bounds, dilate, keep_geom=True):
        orig_cols = [F.col(c) for c in df.columns if keep_geom or c != geom_col]
        if bounds is not None:
            x0, y0, x1, y1 = (F.expr(b) if isinstance(b, str) else b for b in bounds)
            src = df
        else:
            bcol = f"__{prefix}b"
            src = df.withColumn(bcol, st_bounds_udf(F.col(geom_col)))
            x0, y0 = F.col(f"{bcol}.xmin"), F.col(f"{bcol}.ymin")
            x1, y1 = F.col(f"{bcol}.xmax"), F.col(f"{bcol}.ymax")
        # one select adds all four bound columns (and drops the helper
        # struct when present, by not projecting it)
        return src.select(
            *orig_cols,
            (x0 - F.lit(dilate)).alias(f"__{prefix}xmin"),
            (y0 - F.lit(dilate)).alias(f"__{prefix}ymin"),
            (x1 + F.lit(dilate)).alias(f"__{prefix}xmax"),
            (y1 + F.lit(dilate)).alias(f"__{prefix}ymax"),
        )

    L = _with_bounds(left, left_geom, "l", left_bounds, 0.0)
    R = _with_bounds(right, rg, "r", right_bounds, d, keep_geom=deferred is None)
    if cell_size is None:
        # adaptive mode: one bounded aggregation per side picks the grid
        cell_size = _adaptive_cell_size(L, R)
    L = L.select("*", F.explode(_cells_expr("__l", cell_size)).alias("__cell"))
    R = R.select("*", F.explode(_cells_expr("__r", cell_size)).alias("__cell"))
    joined = L.join(R, "__cell")
    # one conjunctive filter: envelope prefilter (pure codegen, kills
    # most pairs pre-UDF) AND the reference-point duplicate rule (keep
    # the pair only in the cell owning the envelope-intersection
    # corner — no distinct shuffle)
    refx = F.greatest("__lxmin", "__rxmin")
    refy = F.greatest("__lymin", "__rymin")
    joined = joined.filter(
        (F.col("__lxmin") <= F.col("__rxmax"))
        & (F.col("__lxmax") >= F.col("__rxmin"))
        & (F.col("__lymin") <= F.col("__rymax"))
        & (F.col("__lymax") >= F.col("__rymin"))
        & (F.floor(refx / cell_size).cast("int") == F.col("__cell.cx"))
        & (F.floor(refy / cell_size).cast("int") == F.col("__cell.cy"))
    )
    if exact_predicate is not None:
        out = joined.filter(exact_predicate)
    elif distance is None and rect_exact:
        out = joined  # rect x rect: bbox overlap == st_intersects
    elif deferred is not None:
        ctor, args = deferred
        out = joined.filter(
            built_intersects_udf(ctor)(F.col(left_geom), *map(F.col, args))
        )
        # right_geom comes back in its place, built once per output
        # pair; Spark prunes it when the caller does not use it
        return out.select(
            *left.columns,
            *(
                ctor(*map(F.col, args)).alias(c) if c == rg else F.col(c)
                for c in right.columns
            ),
        )
    elif distance is None:
        out = joined.filter(st_intersects(F.col(left_geom), F.col(rg)))
    else:
        from iceberg_geo_poc_spark.geo.functions import st_distance

        out = joined.filter(st_distance(F.col(left_geom), F.col(rg)) <= distance)
    drop = [
        "__cell",
        "__lxmin", "__lymin", "__lxmax", "__lymax",
        "__rxmin", "__rymin", "__rxmax", "__rymax",
    ]
    return out.drop(*drop)


def grid_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: list[str],
    tie_break: list[str],
    initial_radius: float,
    cell_size: float | None = None,
    max_rounds: int = 4,
    left_bounds: tuple | None = None,
    right_bounds: tuple | None = None,
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """K-nearest-neighbor spatial join (the Sedona ST_KNN analogue the
    reference reaches through its GeospatialLibrary SPI): for every left
    row, the k right rows with the smallest ``st_distance``.

    Expanding-radius protocol: each round runs ONE grid distance join at
    radius r; probes that found >= k neighbors are resolved with a
    window top-k, the rest retry with 2r.  Distances round to 6 decimals
    before ranking so rank ties are stable across engines; ``tie_break``
    names right-side columns that uniquely order equal-distance rows.

    Scale shape: every round is the standard PBSM distance join (one
    equi-join shuffle on grid cells, codegen prefilter) plus one
    windowed top-k partitioned by the probe id — no cross join at any
    radius, and the doubling schedule bounds rounds at
    O(log(max_extent / initial_radius)).  Unresolved-probe sets shrink
    monotonically, so later rounds join ever-smaller left sides.
    ``max_rounds`` caps the work; probes still unresolved after the last
    round return their best-effort neighbors (fewer than k only when the
    whole right side is farther than the final radius).

    CORRECTNESS NOTE: a probe is resolved only when >= k neighbors fall
    inside radius r, and every right row within r is found by that
    round's join — so its top-k within r IS its global top-k (any closer
    row would also be within r).

    ITERATION POSTURE (the standard one, same as the label-propagation
    loops in operators/dedup.py): per-round state is localCheckpoint'ed
    so lineage stays flat.  Without it every downstream action — the
    two broadcast builds, the per-round emptiness probe, and the final
    collect over the unioned rounds — re-derives ALL previous rounds'
    grid joins through the chained anti-joins (work quadratic in
    rounds; measured 52 s -> 8 s on the sf0.01 knn driver query).  The
    round's ranked join output is persisted for the round's duration
    only (two consumers: ok_ids and resolved), and the checkpointed
    frames (ok_ids, per-round resolved, unresolved) are all small:
    O(probes) ids, <= k rows per resolved probe, and a monotonically
    shrinking probe set.  Blocks are freed by the ContextCleaner when
    the result is dropped.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    out = None
    unresolved = left
    r = float(initial_radius)
    for rnd in range(max_rounds):
        last = rnd == max_rounds - 1
        j = grid_spatial_join(
            unresolved,
            right,
            left_geom=left_geom,
            right_geom=right_geom,
            cell_size=cell_size or max(r, 1e-9) * 2.0,
            distance=r,
            left_bounds=left_bounds,
            right_bounds=right_bounds,
        )
        from iceberg_geo_poc_spark.geo.functions import st_distance

        rg = right_geom if right_geom != left_geom else f"{right_geom}_r"
        j = j.withColumn(
            "knn_dist", F.round(st_distance(F.col(left_geom), F.col(rg)), 6)
        )
        w = Window.partitionBy(*left_id).orderBy(
            F.col("knn_dist"), *[F.col(c) for c in tie_break]
        )
        ranked = j.withColumn("knn_rank", F.row_number().over(w)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            counts = ranked.groupBy(*left_id).agg(
                F.max("knn_rank").alias("__n")
            )
            ok_ids = (
                counts.filter(F.col("__n") >= k) if not last else counts
            ).select(*left_id).localCheckpoint()
            resolved = (
                ranked.join(F.broadcast(ok_ids), left_id, "left_semi")
                .filter(F.col("knn_rank") <= k)
                .localCheckpoint()
            )
        finally:
            ranked.unpersist()
        out = resolved if out is None else out.unionByName(resolved)
        if last:
            break
        unresolved = unresolved.join(
            F.broadcast(ok_ids), left_id, "left_anti"
        ).localCheckpoint()
        # cheap emptiness probe bounds driver work (same posture as the
        # label-propagation convergence check); reads the checkpoint,
        # never the join lineage
        if unresolved.limit(1).count() == 0:
            break
        r *= 2.0
    return out
