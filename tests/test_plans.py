"""Plan-shape assertions: the optimizations SURVEY.md §4 claims are
"built-in" must actually appear in the physical plans — predicate
pushdown to the parquet scan, column pruning, broadcast selection,
whole-stage codegen, partial aggregation, and no Python eval nodes in
pure-Column operators."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.where(F.col("l_shipdate") >= "1996-01-01").select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_partition_pruning_analog_window_filter(spark):
    # blocks window filter prunes before any payload decode (R2):
    # the range predicates appear as data filters on metadata columns
    from earth_data_kit_spark.operators import blocks as B

    bl = B.synth_blocks_df(spark, 256, 256, 64)
    plan = plan_of(B.window_filter(bl, 0, 0, 10, 10).select("xoff", "yoff"))
    assert "Filter" in plan and "payload" not in plan.split("Filter")[0]


def test_broadcast_chosen_for_small_dims(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    plan = plan_of(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_partial_final_agg_and_codegen(spark):
    import __spark_entry__ as em

    plan = plan_of(em._q_rel_q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2  # partial + final
    # (WholeStageCodegen markers only materialize in the AQE final
    # plan post-execution; partial/final + pushdown cover the intent)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.fixture(scope="module")
def indexed_pages(spark, tmp_path_factory):
    """Pages with every scheme's point index stored at ingest."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.operators.spatial_join_h3 import h3_cell_udf
    from earth_data_kit_spark.operators.spatial_join_s2 import s2_leaf_udf
    from earth_data_kit_spark.sources.pages import pages_meta_df

    path = str(tmp_path_factory.mktemp("indexed") / "pages")
    lon, lat = F.col("lon"), F.col("lat")
    (
        pages_meta_df(spark, SF)
        .withColumn("qcell", cell_id_col(lon, lat, 6))
        .withColumn("s2_leaf", s2_leaf_udf()(lon, lat))
        .withColumn("h3_cell", h3_cell_udf(6)(lon, lat))
        .write.parquet(path)
    )
    return spark.read.parquet(path)


def _scheme_join(scheme, op, pages, stored):
    from earth_data_kit_spark.operators import knn
    from earth_data_kit_spark.operators import spatial_join_h3 as h3j
    from earth_data_kit_spark.operators import spatial_join_s2 as s2j

    q = [(1, 41.33, 19.82)]
    if scheme == "quad":
        if op == "knn":
            return knn.knn_join(pages, q, 3, res=6, cell_col="qcell" if stored else None)
        return knn.radius_join(pages, q, 100e3, res=6)
    if scheme == "s2":
        leaf = "s2_leaf" if stored else None
        if op == "knn":
            return s2j.knn_join_s2(pages, q, 3, level=7, leaf_col=leaf)
        return s2j.radius_join_s2(pages, q, 100e3, level=7, leaf_col=leaf)
    cell = "h3_cell" if stored else None
    if op == "knn":
        return h3j.knn_join_h3(pages, q, 3, res=6, radius_m=100e3, cell_col=cell)
    return h3j.radius_join_h3(pages, q, 100e3, res=6, cell_col=cell)


@pytest.mark.parametrize(
    "scheme, op, stored",
    [
        (scheme, op, stored)
        for scheme in ("quad", "s2", "h3")
        for op in ("knn", "radius")
        for stored in (False, True)
        if not (scheme == "quad" and op == "radius" and stored)  # no cell_col
    ],
)
def test_spatial_join_candidate_join_is_broadcast(spark, indexed_pages, scheme, op, stored):
    """Every scheme's kNN / radius join: a broadcast equi-join on the
    scheme key (never a sort-merge or nested-loop join), and no Python
    on the points side when the key is stored or is quadgrid Column
    math — the quadgrid pipeline (cell index, ring join, haversine,
    top-k) is JVM-only; S2 and H3 expand the query rings in one Arrow
    UDF over the query table.  kNN top-k is ONE window whose
    row_number<=k filter plans a map-side WindowGroupLimit
    (SPARK-37099): each scan partition keeps only its own top-k per
    query BEFORE the exchange (the r2-era two-level bucketed prune
    re-implemented this reduction and measured slower; see
    OPTIMIZATION_r07.md)."""
    plan = plan_of(_scheme_join(scheme, op, indexed_pages, stored))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    if op == "knn":
        assert "WindowGroupLimit" in plan, plan
    if stored or scheme == "quad":
        # S2 / H3: the one Python node left is the query-side ring UDF
        assert plan.count("ArrowEvalPython") == (0 if scheme == "quad" else 1), plan
        assert "BatchEvalPython" not in plan


def test_bucketed_join_is_colocated_no_exchange(spark, tmp_path):
    """The SCALE.md co-location claim, executed: two tables bucketed
    by cell with the same bucket count join WITHOUT shuffling either
    side (no Exchange above the scans) — the stored-table layout the
    100 TB pages table would use for repeated cell joins."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.sources.pages import pages_meta_df

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/wh'")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        pages = pages_meta_df(spark, SF).withColumn(
            "cell", cell_id_col(F.col("lon"), F.col("lat"), 5)
        )
        (
            pages.write.bucketBy(8, "cell").sortBy("cell")
            .mode("overwrite").saveAsTable("bdb.pages_b")
        )
        (
            pages.groupBy("cell").count().write.bucketBy(8, "cell").sortBy("cell")
            .mode("overwrite").saveAsTable("bdb.cells_b")
        )
        # force the sort-merge path (broadcast would hide the
        # co-location property this layout exists for)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bdb.pages_b").join(
            spark.table("bdb.cells_b").withColumnRenamed("count", "n"), "cell"
        )
        assert joined.count() == pages.count()
        plan = plan_of(joined)  # AQE final plan, post-execution
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_dynamic_partition_pruning_on_part_key(spark, tmp_path):
    """DPP: a fact table partitioned by the coarse cell prefix joined
    against a FILTERED dim produces a dynamicpruning subquery on the
    partition column — only matching partitions are scanned (the
    free partition pruning the storage layout section claims)."""
    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.sources.pages import pages_meta_df

    pages = pages_meta_df(spark, SF).withColumn(
        "part", cell_id_col(F.col("lon"), F.col("lat"), 2)
    )
    fact = str(tmp_path / "fact")
    pages.write.partitionBy("part").mode("overwrite").parquet(fact)
    dim = str(tmp_path / "dim")
    (
        pages.select("part").distinct()
        .withColumn("keep", (F.col("part") % 3 == 0).cast("int"))
        .write.mode("overwrite").parquet(dim)
    )
    joined = spark.read.parquet(fact).join(
        spark.read.parquet(dim).where("keep = 1"), "part"
    )
    joined.count()  # DPP subqueries materialize in the AQE final plan
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_cell_expr_is_codegen_only(spark):
    from earth_data_kit_spark.functions.columns import cell_id_col
    from earth_data_kit_spark.sources.pages import pages_meta_df

    df = pages_meta_df(spark, SF).withColumn(
        "cell", cell_id_col(F.col("lon"), F.col("lat"), 7)
    ).groupBy("cell").count()
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """The 100 TB fallback path for pip_join (covering side too big to
    broadcast → shuffle join on cell, SCALE.md J1 row) benefits from
    Spark's runtime Bloom-filter injection: the big side is pre-
    filtered by a bloom built from the selective small side, cutting
    the shuffled volume before the exchange.  Assert the optimizer
    actually injects it under the documented knobs."""
    old = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        fact_dir, dim_dir = str(tmp_path / "f"), str(tmp_path / "d")
        spark.range(0, 200_000).withColumn("cell", F.col("id") % 50_000).write.parquet(fact_dir)
        spark.range(0, 64).withColumn("cell", F.col("id") * 7).write.parquet(dim_dir)
        fact = spark.read.parquet(fact_dir)
        dim = spark.read.parquet(dim_dir).where(F.col("id") < 8)
        j = fact.join(dim, "cell")
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower(), opt
        # and the join result is still exact
        assert j.count() == fact.join(F.broadcast(dim), "cell").count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("scheme", ["quad", "s2", "h3"])
def test_pip_join_ray_cast_planned_only_for_wkt(spark, indexed_pages, scheme):
    """Every scheme's pip join refines against the polygon table's
    carried geometry.  Over a bbox-only polygon list the refine is
    all Columns: no Python eval node with the quadgrid cell computed
    in-plan and the S2 / H3 keys read from stored columns.  One WKT
    polygon added plans exactly one eval node, the ray-cast."""
    from earth_data_kit_spark.operators.spatial_join import Polygon, pip_join
    from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
    from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2

    boxes = [
        Polygon("AL", "albania", bbox=(19.3, 39.6, 21.0, 42.7)),
        Polygon("FJ", "fiji wrap", bbox=(177.0, -20.0, -178.0, -15.0)),
    ]
    tri = Polygon("TRI", "triangle", wkt="POLYGON ((20 40, 22 40, 21 42, 20 40))")
    join = {
        "quad": lambda polys: pip_join(indexed_pages, polys, res=6),
        "s2": lambda polys: pip_join_s2(indexed_pages, polys, level=7, leaf_col="s2_leaf"),
        "h3": lambda polys: pip_join_h3(indexed_pages, polys, res=6, cell_col="h3_cell"),
    }[scheme]
    for polys, n in ((boxes, 0), (boxes + [tri], 1)):
        plan = plan_of(join(polys))
        assert plan.count("ArrowEvalPython") == n, plan
        assert "BatchEvalPython" not in plan
        assert ("pip_refine_wkt_udf" in plan) == bool(n), plan


@pytest.mark.parametrize("scheme", ["s2", "h3"])
def test_pip_join_covering_is_local_table(spark, indexed_pages, scheme):
    """The driver-built S2 / H3 covering enters the plan as a
    LocalTableScan, never a Python RDD (Scan ExistingRDD)."""
    from earth_data_kit_spark.operators.spatial_join import Polygon
    from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
    from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2

    polys = [Polygon("AL", "albania", bbox=(19.3, 39.6, 21.0, 42.7))]
    if scheme == "s2":
        joined = pip_join_s2(indexed_pages, polys, level=7, leaf_col="s2_leaf")
    else:
        joined = pip_join_h3(indexed_pages, polys, res=6, cell_col="h3_cell")
    plan = plan_of(joined)
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


@pytest.mark.parametrize("scheme", ["s2", "h3"])
def test_computed_point_key_is_one_python_node(spark, scheme):
    """A pip join over points without a stored key computes the S2 /
    H3 key in exactly one Arrow node: the key UDF is non-deterministic,
    so the join's pushed-down key filter cannot copy it into a second
    node."""
    from earth_data_kit_spark.operators.spatial_join import Polygon
    from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
    from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2

    pts = spark.range(200).select(
        F.col("id").alias("page_id"),
        (F.col("id") % 20 * 0.1 + 19.4).alias("lon"),
        (F.col("id") / 10 * 0.1 + 39.7).alias("lat"),
    )
    polys = [Polygon("AL", "albania", bbox=(19.3, 39.6, 21.0, 42.7))]
    if scheme == "s2":
        joined, udf = pip_join_s2(pts, polys, level=6), "_leaf("
    else:
        joined, udf = pip_join_h3(pts, polys, res=3), "_udf("
    nodes = [ln for ln in plan_of(joined).splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1 and udf in nodes[0], nodes


@pytest.mark.parametrize("scheme", ["quad", "s2", "h3"])
@pytest.mark.parametrize("op", ["knn", "radius"])
def test_list_queries_are_local_table(spark, indexed_pages, scheme, op):
    """A Python list of queries enters every kNN / radius plan as a
    LocalTableScan, never a Python RDD (Scan ExistingRDD)."""
    plan = plan_of(_scheme_join(scheme, op, indexed_pages, stored=True))
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_empty_query_list_is_planned_in_jvm(spark):
    """An EMPTY list of queries is a JVM-planned empty frame, not a
    Python RDD (an empty pandas frame skips Arrow)."""
    from earth_data_kit_spark.operators.knn import queries_df

    plan = plan_of(queries_df(spark, []))
    assert "ExistingRDD" not in plan, plan


def test_substring_dedup_is_one_lazy_plan(spark):
    """The call starts no Spark job, and its result plans the window
    mapInArrow once and caches nothing, so the job that materializes
    the result is the only one that runs the window pass."""
    from conftest import last_execution_id

    from earth_data_kit_spark.operators.substring_dedup import substring_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = last_execution_id(spark)
    out = substring_dedup(docs, k=20)
    assert last_execution_id(spark) == before
    plan = plan_of(out)
    assert plan.count("MapInArrow") == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
