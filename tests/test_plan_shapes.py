"""Physical-plan regression checks: the plans we designed for 100 TB
must keep their shape (pushdown reaching the scan, dims broadcast,
whole-stage codegen on the hot path, pruned column reads).

These assert on the optimizer's output rather than results — the
properties that decide whether a query survives a 1000-executor run.
"""

from __future__ import annotations

from iceberg_geo_poc_spark.queries import relational as R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(R.q6_revenue_forecast(spark, sf_dir))
    # the selective predicates must reach the parquet reader (the plan
    # string truncates long filter lists, so match the prefix)
    assert "PushedFilters: [IsNotNull" in plan
    assert "GreaterThanOrEqual(l_shipda" in plan


def test_q6_reads_only_needed_columns(spark, sf_dir):
    plan = _plan(R.q6_revenue_forecast(spark, sf_dir))
    scan_line = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in scan_line  # untouched columns pruned
    assert "l_comment" not in scan_line
    assert "l_extendedprice" in scan_line


def test_q3_broadcasts_dimension_side(spark, sf_dir):
    plan = _plan(R.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # customer dim side
    assert "PushedFilters" in plan


def test_q1_stays_in_wholestage_codegen(spark, sf_dir):
    df = R.q1_pricing_summary(spark, sf_dir)
    df.collect()  # finalize the adaptive plan so codegen stages appear
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan and "*(2)" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_q22_anti_join_and_broadcast(spark, sf_dir):
    df = R.q22_idle_rich_customers(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # NOT EXISTS compiles to a broadcast anti join (orders side filtered
    # to urgent first, so the build side stays small)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q2_argmin_join_no_cartesian(spark, sf_dir):
    df = R.q2_min_cost_supplier(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # part dimension broadcast into the fact scan side
    assert "BroadcastHashJoin" in plan


def test_zorder_stays_in_codegen(spark, sf_dir):
    """The z-value expression is pure bit arithmetic — it must not fall
    out of whole-stage codegen into Python."""
    from iceberg_geo_poc_spark.table.maintenance import _zvalue_column

    df = spark.range(1000).selectExpr("id AS x", "id * 7 % 100 AS y")
    z = df.select(_zvalue_column(df, ["x", "y"]).alias("z"))
    z.collect()
    plan = _plan(z)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spatial_join_is_equi_join_not_cartesian(spark, sf_dir):
    """The grid spatial join must compile to a cell-keyed equi-join —
    never a cartesian/broadcast-nested-loop over the corpus."""
    from iceberg_geo_poc_spark.queries import geo_queries as G

    df = G.geo_spatial_join_counts(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_single_scan_one_job(spark, sf_dir):
    """The scalar MAX(total_revenue) must come from the same plan as the
    revenue CTE (crossJoin(broadcast(agg)) form): lineitem is scanned by
    exactly one physical scan node reused via exchange reuse — never a
    second job collected to the driver."""
    df = R.q15_top_supplier(spark, sf_dir)
    df.collect()
    final_plan = _plan(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final_plan or "ReusedQueryStage" in final_plan, final_plan
    n_lineitem_scans = sum(
        "lineitem.parquet" in line for line in final_plan.splitlines()
    )
    assert n_lineitem_scans <= 1, final_plan


def test_q11_threshold_is_broadcast_not_collected(spark, sf_dir):
    """q11's HAVING threshold joins in as a broadcast 1-row relation —
    the whole query is one lazy plan."""
    df = R.q11_important_parts(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_diamond_join_codegen_blocking(spark, sf_dir):
    """The irregular-polygon join: cell equi-join (no cartesian), and the
    blocking stage (bounds -> explode -> prefilter) is pure codegen —
    the ONLY Python crossing is the exact-predicate ArrowEval after the
    join (constructed-geometry bounds are plain arithmetic)."""
    from iceberg_geo_poc_spark.queries import geo_queries as G

    df = G.geo_diamond_join_counts(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r15 batch 6: builders + exact predicate run as ONE fused
    # ArrowEvalPython node (st_diamond_pair_intersects); bounds stay
    # plain arithmetic, so nothing else may add Python crossings
    n_arrow = plan.count("ArrowEvalPython")
    assert n_arrow <= 1, f"fused pair kernel split apart ({n_arrow} ArrowEval)"


def test_hilbert_key_chains_into_its_input_python_node(spark):
    """st_hilbert is a one-argument kernel, so Spark chains it into the
    ArrowEvalPython node of the st_point that feeds it: one Python
    worker round trip per task, not two."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo.functions import st_hilbert, st_point

    df = spark.range(64).select(
        (F.col("id") * 5.0 - 160.0).alias("x"), (F.col("id") * 2.0 - 60.0).alias("y")
    ).select(st_hilbert(st_point("x", "y"), 12).alias("h"))
    assert all(r.h is not None for r in df.collect())
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_spark_planning_filters_manifest_scan(spark, tmp_path):
    """Distributed planning pushes the pruning predicate into the
    manifest parquet scan (PushedFilters on the stats columns)."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.table import E
    from iceberg_geo_poc_spark.table import spark_planning as SP

    import pandas as pd

    from iceberg_geo_poc_spark.table import manifest as M

    df = pd.DataFrame(
        {
            "content": ["data"] * 10,
            "file_path": [f"/f{i}" for i in range(10)],
            "file_size": 1,
            "record_count": 5,
            "sequence_number": 1,
            "snapshot_id": 1,
            "partition": "{}",
            "lower": "",
            "upper": "",
            "nulls": "",
            "bbox": "",
            "eq_cols": None,
            "lo__k": pd.array(range(10), dtype="Int64"),
            "hi__k": pd.array(range(1, 11), dtype="Int64"),
            "nu__k": 0.0,
            M._FLAT_MARKER: True,
        }
    )
    mpath = str(tmp_path / "m.parquet")
    M.write_manifest(df, mpath)
    pred = SP.might_match_column(E.ge("k", 7), set(df.columns), None)
    mdf = spark.read.parquet(mpath).filter(F.col("content") == "data").filter(pred)
    plan = mdf._sc is not None and mdf._jdf.queryExecution().executedPlan().toString()
    # the hi__k range condition must reach the scan as a pushed filter
    assert "PushedFilters" in plan
    got = SP.plan_files_spark(spark, mpath, E.ge("k", 7), None)
    assert sorted(got) == [f"/f{i}" for i in range(6, 10)]


def test_hamming_knn_is_pure_codegen(spark, sf_dir):
    """The binary-quantized ANN path must never leave the JVM: pack is
    a SQL fold, distance is bit_count(xor) — no Python eval node, probe
    side broadcast."""
    from iceberg_geo_poc_spark.operators.similarity import hamming_knn_topk
    from iceberg_geo_poc_spark.session import load_table

    plan = _plan(hamming_knn_topk(load_table(spark, sf_dir, "embeddings")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bm25_partial_aggregates_and_no_python(spark, sf_dir):
    """BM25 is two partial-agg groupBys + a broadcast term join: the
    (doc, term) aggregate must show a map-side partial phase and the
    whole plan stays JVM-side."""
    from iceberg_geo_poc_spark.operators.retrieval import bm25_scores
    from iceberg_geo_poc_spark.session import load_table

    plan = _plan(
        bm25_scores(load_table(spark, sf_dir, "documents"), ["table", "scan"])
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate(keys=" in plan
    assert "BroadcastExchange" in plan


def test_span_corruption_no_shuffle_no_python(spark, sf_dir):
    """T5 span corruption must be ONE codegen map stage: no Exchange,
    no Python workers — the property that lets it stream over 100 TB
    without touching the shuffle system."""
    from iceberg_geo_poc_spark.operators.text import span_corruption

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(span_corruption(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_splade_query_side_is_broadcast(spark, sf_dir):
    """Sparse retrieval: the query-expansion side must broadcast; the
    corpus-side sparse matrix must never be collected or cartesianed."""
    from iceberg_geo_poc_spark.operators.retrieval import splade_sparse_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(splade_sparse_scores(docs, [(1, "spark table scan")], k=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_kcenter_scan_is_codegen_no_shuffle(spark, sf_dir):
    """Each greedy k-center round is a map + global top-1: the distance
    fold must stay in codegen with no Python stage."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.operators.sampling import kcenter_coreset

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # probe the per-round scan plan directly (the operator collects
    # top-1 per round, so grab the internal expression shape)
    vec = emb.orderBy("vec_id").first()["embedding"]
    lit = "array(" + ", ".join(f"CAST({float(x)} AS DOUBLE)" for x in vec) + ")"
    d = emb.select(
        "vec_id",
        F.expr(
            f"aggregate(zip_with(embedding, {lit}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0D, (acc, t) -> acc + t)"
        ).alias("mind"),
    )
    plan = _plan(d)
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_perplexity_buckets_no_single_reducer_sort(spark, sf_dir):
    """CCNet tercile bucketing must not funnel a whole language through
    one window task (VERDICT r8 'What's wrong #2'): no ntile anywhere,
    and every Window's partition spec must include the fine-grained
    score key (lang + nll_c), never lang alone."""
    import re

    from iceberg_geo_poc_spark.queries import pipeline_queries as P

    plan = _plan(P.text_perplexity_buckets(spark, sf_dir))
    assert "ntile" not in plan.lower()
    # every Window operator in the plan partitions by (lang, nll_c)
    win_lines = [
        line for line in plan.splitlines() if re.search(r"\bWindow\b", line)
    ]
    assert win_lines, "expected the within-(lang, nll_c) rank window"
    for line in win_lines:
        assert "nll_c" in line, f"coarse per-lang window survived: {line}"
    # the histogram offsets join back via broadcast, not shuffle
    assert "BroadcastHashJoin" in plan


def test_distributed_ntile_equals_window_ntile(spark):
    """Property check: distributed_ntile replicates NTILE(k) OVER
    (PARTITION BY g ORDER BY v, tie) exactly, including tie-breaking
    across bucket boundaries and uneven bucket sizes."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from iceberg_geo_poc_spark.operators.skew import distributed_ntile

    rng = random.Random(9)
    rows = [
        (f"g{rng.randrange(3)}", rng.randrange(6), i)
        for i in range(257)  # deliberately not divisible by k
    ]
    df = spark.createDataFrame(rows, "g STRING, v LONG, tie LONG")
    for k in (2, 3, 7):
        got = {
            (r.g, r.tie): r.bucket
            for r in distributed_ntile(df, "g", "v", "tie", k).collect()
        }
        w = Window.partitionBy("g").orderBy("v", "tie")
        want = {
            (r.g, r.tie): r.b
            for r in df.withColumn(
                "b", F.ntile(k).over(w).cast("long")
            ).collect()
        }
        assert got == want


def test_distributed_ntile_many_groups_heavy_ties(spark):
    """Wide property sweep in one job: 200 groups with sizes 1..40 and
    a 4-value domain (heavy ties straddling bucket boundaries), checked
    against F.ntile for k in {1, 2, 3, 5, 16} — including k larger than
    most group sizes (NTILE's one-row-per-bucket regime)."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from iceberg_geo_poc_spark.operators.skew import distributed_ntile

    rng = random.Random(41)
    rows = []
    tie = 0
    for g in range(200):
        for _ in range(rng.randrange(1, 41)):
            rows.append((f"g{g}", rng.randrange(4), tie))
            tie += 1
    df = spark.createDataFrame(rows, "g STRING, v LONG, tie LONG")
    for k in (1, 2, 3, 5, 16):
        got = {
            (r.g, r.tie): r.bucket
            for r in distributed_ntile(df, "g", "v", "tie", k).collect()
        }
        w = Window.partitionBy("g").orderBy("v", "tie")
        want = {
            (r.g, r.tie): r.b
            for r in df.withColumn(
                "b", F.ntile(k).over(w).cast("long")
            ).collect()
        }
        assert got == want, f"k={k}"


def test_distributed_ntile_guards_undiscretized_values(spark):
    """The (group, value) histogram collect is driver-bounded only when
    value_col is discretized (the caller's contract); a raw continuous
    score must fail LOUDLY with the fix named, not OOM the driver."""
    import pytest

    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.operators.skew import distributed_ntile

    # every row a distinct double value — the worst case
    df = spark.range(500).select(
        F.lit("en").alias("g"),
        (F.col("id") * 1.000001).alias("v"),
        F.col("id").alias("tie"),
    )
    with pytest.raises(ValueError, match="DISCRETIZED"):
        distributed_ntile(df, "g", "v", "tie", 3, max_hist_rows=100)
    # same data, discretized under the bound: succeeds
    out = distributed_ntile(
        df.withColumn("v", F.round(F.col("v") / 100).cast("long")),
        "g", "v", "tie", 3, max_hist_rows=100,
    )
    assert out.count() == 500


def test_ann_topk_windows_get_group_limit_pushdown(spark, sf_dir):
    """Every per-probe top-k in the ANN kernels is a rank-limit window,
    which Spark rewrites with a map-side Partial WindowGroupLimit — the
    property that keeps brute-force kNN from funneling the corpus
    through one task per probe.  Assert it on the brute-force cosine
    and Hamming kernels so an optimizer regression (or a plan change
    that defeats the rewrite) fails here, not at 100 TB."""
    from iceberg_geo_poc_spark.queries import pipeline_queries as P

    for qname in ("sim_knn_cosine_topk", "sim_hamming_topk"):
        plan = _plan(getattr(P, qname)(spark, sf_dir))
        partials = [
            l for l in plan.splitlines()
            if "WindowGroupLimit" in l and "Partial" in l
        ]
        assert partials, f"{qname}: no Partial WindowGroupLimit in plan"


def test_matryoshka_managed_head_stage_pruning(spark, sf_dir, tmp_path):
    """The managed Matryoshka index's head stage must be BOTH
    partition-pruned (probed IVF cells only, via manifest stats) and
    column-pruned (ReadSchema carries the 8-dim head column, never the
    full-width embedding) — the two properties that make the 8x
    scan-IO claim real at 100 TB."""
    from iceberg_geo_poc_spark.operators.ann_index import (
        build_matryoshka_index,
        matryoshka_index_search,
    )
    from iceberg_geo_poc_spark.queries.pipeline_queries import load_table
    from iceberg_geo_poc_spark.table import Catalog

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cat = Catalog(str(tmp_path / "wh"), spark)
    idx = build_matryoshka_index(cat, "mrl", emb, d_head=8, n_centroids=8, iters=1)
    probes = emb.filter("vec_id < 3")
    out, head_scan, full_scan = matryoshka_index_search(
        idx, probes, k=5, nprobe=2, shortlist=20
    )
    # partition pruning: strictly fewer files than the table holds
    assert 0 < len(head_scan.files()) < head_scan.total_data_files()
    # column pruning: every scan in the head stage reads head, not embedding
    plan = _plan(head_scan.to_df())
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    for ln in schema_lines:
        assert "embedding" not in ln and "head" in ln, ln
    # the full stage reads the probed cells only as well
    assert len(full_scan.files()) == len(head_scan.files())
    assert out.count() > 0


def test_bitext_knn_windows_get_group_limit_pushdown(spark, sf_dir):
    """margin_bitext_mining's three rank-limit windows (both k-NN
    averages + the per-source argmax) must ride the map-side Partial
    WindowGroupLimit and never degrade to a cartesian beyond the one
    documented block-and-verify matrix stage."""
    from iceberg_geo_poc_spark.operators.retrieval import margin_bitext_mining
    from iceberg_geo_poc_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # _materialize=False: the public entry eagerly checkpoints its
    # (small) output so the scored-matrix cache can be released per
    # call, which truncates the observable plan — the inspection form
    # exposes the identical mined algebra the checkpoint executes
    df = margin_bitext_mining(
        emb.filter("vec_id % 2 = 0").limit(50),
        emb.filter("vec_id % 2 = 1").limit(50),
        k=4,
        threshold=1.0,
        _materialize=False,
    )
    plan = _plan(df)
    limits = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    # all three rank windows rewritten (Partial+Final across a shuffle,
    # or Final-only when the optimizer skips the map-side phase)
    assert len(limits) >= 3, f"expected 3 window group limits:\n{plan[:2000]}"
    assert "BatchEvalPython" not in plan


def test_cow_probe_filter_pushed_to_scan(spark, tmp_path):
    """The CoW matched-file probe (round-13 runtime narrowing,
    table.py _touched_file_paths) is one pushed-down filter scan: the
    DELETE/UPDATE predicate must reach the parquet reader, so the probe
    costs a selective scan, not a full decode."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.table import Catalog

    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table("probe_t", "id BIGINT, v STRING")
    for lo, hi in ((1, 100), (2, 99), (3, 98)):
        t.append(
            spark.createDataFrame(
                [(lo, "a"), (hi, "b")], "id BIGINT, v STRING"
            ).coalesce(1)
        )
    ent = t._entries()
    paths = list(ent[ent.content == "data"].file_path)
    probe = t._read_files(paths, with_deletes=True, with_file_path=True)
    plan = _plan(probe.filter(F.col("id") == 4))
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,4)]" in plan


def _three_file_table(spark, tmp_path, name):
    from iceberg_geo_poc_spark.table import Catalog
    from tests.frames import frame

    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table(name, "id BIGINT, v STRING")
    for k in range(3):
        t.append(frame(spark, [(3 * k + i, "abc"[i]) for i in range(3)],
                       "id BIGINT, v STRING").coalesce(1))
    return cat


def test_scan_without_delete_files_reads_no_row_positions(spark, tmp_path):
    """A scan whose files carry no delete file reads no ``_metadata``
    columns (file path, row index); once a position delete applies, the
    scan reads them and drops the deleted row."""
    from iceberg_geo_poc_spark.table import E

    cat = _three_file_table(spark, tmp_path, "nopos_t")
    df = cat.load_table("nopos_t").scan().to_df()
    assert "_metadata" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 9
    cat.load_table("nopos_t").delete(E.eq("id", 4), mode="merge-on-read")
    df = cat.load_table("nopos_t").scan().to_df()
    assert "_metadata" in df._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 5, 6, 7, 8]


def test_per_file_broadcast_maps_are_local_relations(spark, tmp_path):
    """The row-lineage map, the equality-delete sequence map and the
    ``_partition`` map are built on the driver from pandas: local
    relations, so no job over them starts a Python worker."""
    from tests.frames import frame

    cat = _three_file_table(spark, tmp_path, "maps_t")
    t = cat.load_table("maps_t")
    t.delete_by_keys(frame(spark, [(4,)], "id BIGINT"), key_cols=["id"])
    t = cat.load_table("maps_t")
    reads = {
        "lineage": t.scan(lineage=True).to_df(),
        "equality deletes": t.scan().to_df(),
        "metadata columns": t.scan(metadata_columns=True).to_df(),
    }
    for what, df in reads.items():
        assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 5, 6, 7, 8], what
        assert "ExistingRDD" not in _plan(df), what
    ids = {r.id: r._row_id for r in reads["lineage"].collect()}
    assert sorted(ids.values()) == sorted(set(ids.values()))


def test_lineage_map_without_data_rows_runs_no_job(spark, tmp_path):
    """A per-file broadcast map with no rows is an empty local relation:
    the optimizer drops its join, so the read runs the jobs of a read
    without the map."""
    import uuid

    cat = _three_file_table(spark, tmp_path, "nomap_t")
    t = cat.load_table("nomap_t")
    ent = t._entries()
    paths = list(ent.file_path)
    sc = spark.sparkContext

    def jobs(df) -> int:
        group = f"nomap-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "empty map")
        try:
            df.collect()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    no_map = t._read_files(paths, with_pos=True)
    empty_map = t._read_files(paths, entries=ent.iloc[:0], with_lineage=True)
    assert "ExistingRDD" not in _plan(empty_map)
    assert jobs(empty_map) == jobs(no_map)


def _point_table(spark, tmp_path):
    """A wkb point table of 2,000 rows in four files, with its
    coordinates as columns."""
    import numpy as np
    import pandas as pd

    from iceberg_geo_poc_spark.geo import Point, geometry_to_wkb
    from iceberg_geo_poc_spark.table import Catalog

    rng = np.random.default_rng(7)
    x, y = rng.uniform(0, 20, 2000), rng.uniform(0, 20, 2000)
    pdf = pd.DataFrame({
        "id": np.arange(len(x)), "x": x, "y": y,
        "geom": [bytearray(geometry_to_wkb(Point(a, b))) for a, b in zip(x, y)],
    })
    cat = Catalog(str(tmp_path / "wh"), spark)
    t = cat.create_table(
        "pts", "id BIGINT, x DOUBLE, y DOUBLE, geom BINARY",
        geometry_columns={"geom": "wkb"},
    )
    t.append(spark.createDataFrame(pdf, "id BIGINT, x DOUBLE, y DOUBLE, geom BINARY")
             .repartition(4))
    return cat.load_table("pts"), x, y


def test_window_count_over_points_runs_no_python(spark, tmp_path):
    """The window residual over a point-only table is codegen'd JVM
    comparison: no ArrowEvalPython node."""
    import pyspark.sql.functions as F

    from iceberg_geo_poc_spark.geo import box
    from iceberg_geo_poc_spark.table import E

    t, x, y = _point_table(spark, tmp_path)
    counted = (
        t.scan(where=E.st_intersects("geom", box(3.0, 4.0, 9.0, 8.5)))
        .to_df()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert counted.collect()[0]["n"] == int(
        ((x >= 3) & (x <= 9) & (y >= 4) & (y <= 8.5)).sum()
    )
    assert _plan(counted).count("ArrowEvalPython") == 0


def test_zone_join_keeps_one_python_node(spark, tmp_path):
    """A zone join over a window scan of points: the window residual
    runs in the JVM, so the one Python node is the fused pair kernel."""
    import numpy as np
    import pandas as pd

    from iceberg_geo_poc_spark.geo import box
    from iceberg_geo_poc_spark.geo import spatial_join as SJ
    from iceberg_geo_poc_spark.geo.functions import st_diamond
    from iceberg_geo_poc_spark.table import E

    t, x, y = _point_table(spark, tmp_path)
    zones = pd.DataFrame({"zid": np.arange(5), "cx": [5.0, 6, 7, 8, 9],
                          "cy": [5.0, 7, 6, 8, 9], "r": [0.5, 1, 1.5, 0.7, 1.2]})
    zones_df = spark.createDataFrame(zones).select(
        "zid", "cx", "cy", "r", st_diamond("cx", "cy", "r").alias("zgeom")
    )
    scan = t.scan(where=E.st_intersects("geom", box(3.0, 3.0, 11.0, 11.0)))
    joined = SJ.grid_spatial_join(
        scan.to_df(), zones_df, "geom", "zgeom", cell_size=2.0,
        left_bounds=("x", "y", "x", "y"),
        right_bounds=("cx - r", "cy - r", "cx + r", "cy + r"),
    )
    per_zone = joined.groupBy("zid").count()
    got = {r.zid: r["count"] for r in per_zone.collect()}
    want = {
        z.zid: int((np.abs(x - z.cx) + np.abs(y - z.cy) <= z.r).sum())
        for z in zones.itertuples()
    }
    assert got == {k: v for k, v in want.items() if v}
    plan = _plan(per_zone).split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
