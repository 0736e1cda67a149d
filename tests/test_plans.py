"""Plan-shape assertions: the engine's scale claims, checked against
the actual physical plans (SURVEY.md §4.2). These are the properties
that survive a 100x scale-up: filters reach the parquet scan, small
dims broadcast, hot paths stay JVM-side (no Python eval nodes), and
aggregates are partial (map-side combine)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.01"


def _plan(spark, df, mode: str = "formatted") -> str:
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jm.fromString(mode))


def test_bbox_filter_pushes_down(spark):
    import geospark.queries as q
    df = q.q_bbox_filter(spark, SF)
    p = _plan(spark, df)
    assert "PushedFilters" in p
    # the acctbal-derived lon can't push (expression), but the scan must
    # prune columns: only the two source columns are read
    assert "ReadSchema" in p
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "c_custkey" in rs and "c_acctbal" in rs
    assert "c_name" not in rs and "c_mktsegment" not in rs


def test_pushdown_on_raw_column(spark):
    from pyspark.sql import functions as F
    df = spark.read.parquet(f"{SF}/customer.parquet") \
        .filter(F.col("c_acctbal") > 0).select("c_custkey")
    p = _plan(spark, df)
    assert "GreaterThan(c_acctbal" in p


def test_pip_join_is_broadcast_and_jvm_only(spark):
    import geospark.queries as q
    df = q.q_pip_join(spark, SF)
    p = _plan(spark, df)
    assert "BroadcastHashJoin" in p
    # expression refine: NO Python evaluation nodes anywhere in the plan
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p


def test_pip_join_udf_mode_is_single_pass(spark, many_edge_zone):
    # r5: the udf tier is a SINGLE `_full OR udf` filter (NULL-gated
    # poly_id makes interior rows O(1) in the batch) — no
    # interior/boundary Union re-executing the upstream per tier. A zone
    # side past the expression refine's edge limit takes the udf tier.
    from geospark.operators.joins import spatial_join
    import geospark.queries as q
    pts = q._cust_points(spark, SF)
    zones = q.fixed_zones_df(spark).unionByName(spark.createDataFrame(
        [many_edge_zone], "zone_id long, geom_wkb binary"))
    df = spatial_join(pts, zones, res=q.RES_COARSE)
    p = _plan(spark, df)
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" in p  # the refine
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Union" not in tree


def test_flagship_pipeline_is_python_free(spark):
    import __spark_entry__ as e
    p = _plan(spark, e.entry(spark))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert "BroadcastHashJoin" in p


def test_extraction_is_python_free(spark):
    from geospark.operators.extract import extract_pages
    from geospark.sources.synth import pages_df
    p = _plan(spark, extract_pages(pages_df(spark, 10)))
    # the synth source itself is mapInPandas; extraction must add no
    # Python nodes beyond it
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # extraction itself is Generate/Project/Filter over the generator's
    # single MapInPandas node (formatted plans mention a node in both
    # the tree and the details section)
    tree = p.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1


def test_tile_counts_partial_aggregation(spark):
    import geospark.queries as q
    df = q.q_cell_counts(spark, SF)
    p = _plan(spark, df)
    # partial (map-side) agg before the exchange, final after
    assert "partial_count" in p or p.count("HashAggregate") >= 2
    assert "ArrowEvalPython" not in p


def test_minhash_is_python_free(spark):
    from geospark.operators.dedup import minhash_pairs
    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(spark, minhash_pairs(d))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def _knn_iteration_plans(spark):
    """kNN now eagerly checkpoints satisfied results (cache hygiene),
    so the RETURNED frame scans checkpointed RDDs; the candidate-join
    shape lives in the pre-checkpoint per-iteration frames captured
    via debug_plans."""
    import geospark.queries as q
    from geospark.operators.joins import knn_join
    pts = q._cust_points(spark, SF) \
        .withColumnRenamed("c_custkey", "point_id")
    captured: list = []
    knn_join(q._supp_queries(spark, SF), pts, 3, res=q.RES_COARSE,
             debug_plans=captured)
    assert captured
    return [_plan(spark, d) for d in captured]


def test_knn_candidate_join_shape(spark):
    for p in _knn_iteration_plans(spark):
        # ranking is windowed per query, join side keyed by cell
        assert "Window" in p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


# ---------------------------------------------------------------------------
# round-2 plan shapes
# ---------------------------------------------------------------------------

def test_embed_near_dup_single_python_stage(spark):
    """The banded-LSH bucketing is exactly ONE Arrow-vectorized UDF;
    everything downstream (cap, pair join, cosine verify) stays JVM-side.
    (An unrolled column-expression bucketing blew the 64KB janino method
    limit and silently fell back to interpreted eval — this pins the
    UDF formulation.)"""
    import geospark.queries as q
    df = q.q_embed_near_dup(spark, SF)
    p = _plan(spark, df)
    # Arrow-vectorized bucket UDF present (the subtree appears several
    # times pre-AQE; ReusedExchange dedups it at runtime), nothing
    # row-at-a-time anywhere
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p
    # bucketing result feeds plain JVM ops: cap via join on (band, bkt)
    assert "posexplode" in p or "PosExplode" in p


def test_knn_plan_has_no_literal_fanout(spark):
    """Ring fanout is sequence(lit, lit) — Catalyst constant-folds it
    to ONE compact array literal (fine); what must never appear is the
    full-longitude fanout as 2^res explicit values (the round-1 shape:
    explode(array(lit x 64)) at res 6, 4096 at res 12)."""
    for p in _knn_iteration_plans(spark):
        # full-lon fanout (0..63 at res 6) must not be materialized
        assert "[0,1,2,3,4,5,6,7,8,9,10" not in p
        # ring fanout present, folded to a compact UnsafeArrayData
        # literal
        assert "Generate" in p and "UnsafeArrayData" in p


def test_ivf_probe_is_scan_side_filter(spark):
    """IVF: no join anywhere — assignment UDF + IN-probe filter +
    local top-k over a single scan."""
    import geospark.queries as q
    df = q.q_ivf_ann_topk(spark, SF)
    p = _plan(spark, df)
    assert "Join" not in p
    assert "TakeOrderedAndProject" in p        # top-k, not full sort


# ---------------------------------------------------------------------------
# round-3 plan shapes
# ---------------------------------------------------------------------------

def test_distance_join_is_pure_jvm_equi_join(spark):
    """Epsilon range join: the rewrite must land as ONE equi-join with
    zero Python and no cartesian/nested-loop anywhere."""
    import geospark.queries as q
    df = q.q_distance_join(spark, SF)
    p = _plan(spark, df)
    tree = p.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree and "MapInPandas" not in tree
    assert "Cartesian" not in tree and "NestedLoop" not in tree
    assert tree.count("HashJoin") + tree.count("SortMergeJoin") == 1


def test_poly_join_refine_structure(spark):
    """Areal-areal join, r6 shape: the rect/full refine is decided PER
    COVER ROW before the pair aggregation, so an all-rectangle join is
    ONE cover equi-join + ONE pair aggregation with ZERO Python nodes —
    the only frozen subtrees are the two per-side detect passes (Scan
    ExistingRDD x2; the old shape also checkpointed a pair table and
    union'd three refine branches). Never a driver-collected local
    table; no cartesian products."""
    import geospark.queries as q
    df = q.q_poly_join(spark, SF)
    p = _plan(spark, df)
    tree = p.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") == 2
    assert "LocalTableScan" not in tree
    assert "Cartesian" not in tree and "NestedLoop" not in tree
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree


def test_zorder_key_is_codegen_bit_math(spark):
    import geospark.queries as q
    df = q.q_zorder_keys(spark, SF)
    p = _plan(spark, df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # '*' prefixes mark whole-stage-codegen'd nodes in formatted plans
    assert "* Project" in p


def test_shuffled_cover_join_partitions_on_cell(spark):
    """broadcast_cover=False must key BOTH shuffle sides of the cover
    join by _cell (AQE skew-join then splits hot cells)."""
    import geospark.queries as q
    from geospark.operators.joins import spatial_join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the tiny test cover would auto-broadcast (no shuffle at all);
    # force the shuffle shape the test is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pts = q._cust_points(spark, SF)
        out = spatial_join(pts, q.fixed_zones_df(spark), res=6,
                           broadcast_cover=False)
        p = _plan(spark, out)
        assert p.count("hashpartitioning(_cell") >= 2
        assert "BroadcastHashJoin" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pip_join_single_pass_one_scan(spark):
    """r4: expr-mode PIP join decides interior OR ray-cast in ONE
    filter — exactly one scan of the probe table, no Union (the old
    union-of-filters shape re-executed the whole upstream per tier)."""
    import geospark.queries as q
    p = _plan(spark, q.q_pip_join(spark, SF))
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Union" not in tree


def test_distributed_general_join_is_single_pass(spark):
    """r5: a distributed join with a GENERAL (non-rect) polygon side
    runs as ONE filter pass — the cover carries the boundary-cell wkb
    (_gwkb), so there is no polys re-join, no Union, and exactly one
    probe scan (the r4 shape re-executed the probe once per tier)."""
    from geospark.operators.joins import spatial_join
    import geospark.queries as q
    pts = q._cust_points(spark, SF)
    out = spatial_join(pts, q.fixed_zones_df(spark), res=6,
                       distributed=True)
    p = _plan(spark, out)
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1   # ONE wkb refine
    assert tree.count("Scan parquet") == 1      # ONE probe scan
    # the only Union allowed is the cover's internal rect|general tier
    # (polys side); the probe subtree must not fan out into per-tier
    # branches — one scan + one refine above proves it


def test_pip_join_many_rect_skips_residue_branch(spark):
    """r4 distributed path: an all-rectangle polygon side skips the
    general-geometry residue branch at plan time — one probe scan,
    zero Python eval nodes, no Union in the executed plan."""
    import geospark.queries as q
    p = _plan(spark, q.q_pip_join_many(spark, SF))
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree
    assert "Union" not in tree
