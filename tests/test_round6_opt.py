"""Round-6 optimization tests.

Pins the r6 scale/efficiency changes:
  * spatial_join driver tier auto-routes to the distributed covering
    above spark.geospark.pip.maxDriverPolygons (VERDICT r5 #5) with
    identical results;
  * pip_tile_counts inherits the same bounded-collect fallback and
    self-enforces its materialized-points contract (VERDICT r5 #6);
  * spatial_join_polygons' r6 row-level refine matches brute force on
    a MIXED side (rectangles x triangles — exercises the general
    branch the all-rect bench shape skips);
  * fanout_repartition is a no-op at adequate parallelism / above the
    byte cap and preserves rows when it fires.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _boxes(spark, n, half=1.505):
    from geospark.functions.geometry import st_geomfromtext
    cx = ((F.col("id") * 3) % 300).cast("double") - 150.0
    cy = ((F.col("id") * 7) % 150).cast("double") - 75.0
    h = F.lit(half)
    x0, y0 = (cx - h).cast("string"), (cy - h).cast("string")
    x1, y1 = (cx + h).cast("string"), (cy + h).cast("string")
    wkt = F.concat(F.lit("POLYGON (("),
                   x0, F.lit(" "), y0, F.lit(", "),
                   x1, F.lit(" "), y0, F.lit(", "),
                   x1, F.lit(" "), y1, F.lit(", "),
                   x0, F.lit(" "), y1, F.lit(", "),
                   x0, F.lit(" "), y0, F.lit("))"))
    return spark.range(n).select(
        F.col("id").alias("zone_id"),
        st_geomfromtext(wkt).alias("geom_wkb"))


def _pts(spark, n=4000):
    # LCG-spread coordinates (3 decimals) — integer-lattice points with
    # small multipliers can be PROVABLY disjoint from the integer box
    # grid by a modular argument, which silently empties the join
    return spark.range(n).select(
        F.col("id").alias("pid"),
        ((((F.col("id") * 1103515245 + 12345) % 160000) / 1000.0)
         .cast("double") - 80.0).alias("lat"),
        ((((F.col("id") * 69069 + 1) % 340000) / 1000.0)
         .cast("double") - 170.0).alias("lon"))


class TestDriverCollectGate:
    def test_spatial_join_auto_routes_above_cap(self, spark):
        """Above the polygon cap the driver tier must hand off to the
        distributed covering — same rows, no driver-side cover."""
        from geospark.operators.joins import spatial_join
        pts, boxes = _pts(spark), _boxes(spark, 300)
        want = {tuple(r) for r in
                spatial_join(pts, boxes, res=6, distributed=True)
                .select("pid", "zone_id").collect()}
        spark.conf.set("spark.geospark.pip.maxDriverPolygons", "50")
        try:
            routed = spatial_join(pts, boxes, res=6)
            plan = routed._sc._jvm.PythonSQLUtils.explainString(
                routed._jdf.queryExecution(), "formatted")
            got = {tuple(r) for r in
                   routed.select("pid", "zone_id").collect()}
        finally:
            spark.conf.unset("spark.geospark.pip.maxDriverPolygons")
        assert got == want and len(got) > 0
        # the driver cover is a createDataFrame -> LocalTableScan; the
        # distributed cover is not
        assert "LocalTableScan" not in plan.split("\n\n")[0]

    def test_spatial_join_semi_auto_route_matches(self, spark):
        from geospark.operators.joins import spatial_join
        pts, boxes = _pts(spark), _boxes(spark, 120)
        want = {r.pid for r in
                spatial_join(pts, boxes, res=6, how="left_semi")
                .collect()}
        spark.conf.set("spark.geospark.pip.maxDriverPolygons", "50")
        try:
            got = {r.pid for r in
                   spatial_join(pts, boxes, res=6, how="left_semi")
                   .collect()}
        finally:
            spark.conf.unset("spark.geospark.pip.maxDriverPolygons")
        assert got == want and len(got) > 0

    def test_pip_tile_counts_auto_routes_above_cap(self, spark):
        from geospark.operators.joins import pip_tile_counts
        pts, boxes = _pts(spark), _boxes(spark, 200)
        want = {tuple(r) for r in
                pip_tile_counts(pts, boxes, res=6).collect()}
        spark.conf.set("spark.geospark.pip.maxDriverPolygons", "50")
        try:
            got = {tuple(r) for r in
                   pip_tile_counts(pts, boxes, res=6).collect()}
        finally:
            spark.conf.unset("spark.geospark.pip.maxDriverPolygons")
        assert got == want and len(got) > 0


class TestPipTileCountsMaterializeGuard:
    def _count_materialize(self, monkeypatch):
        import geospark.operators.joins as J
        calls = []
        real = J.materialize

        def spy(df, **kw):
            calls.append(1)
            return real(df, **kw)

        monkeypatch.setattr(J, "materialize", spy)
        return calls

    def test_expensive_upstream_is_frozen_once(self, spark,
                                               monkeypatch):
        """A points plan with a Generate upstream must be materialized
        exactly once before the two-subtree consumption."""
        from geospark.operators.joins import pip_tile_counts
        calls = self._count_materialize(monkeypatch)
        pts = _pts(spark, 500).withColumn(
            "_dup", F.explode(F.array(F.lit(1)))).drop("_dup")
        out = pip_tile_counts(pts, _boxes(spark, 40), res=6)
        assert sum(calls) == 1
        assert out.count() > 0

    def test_scan_backed_points_pass_through(self, spark, monkeypatch):
        """A plain scan/project points input must NOT be checkpointed
        (no extra job, no frozen copy)."""
        from geospark.operators.joins import pip_tile_counts
        import geospark.queries as q
        calls = self._count_materialize(monkeypatch)
        pip_tile_counts(q._cust_points(spark, SF),
                        q.fixed_zones_df(spark), res=6)
        assert sum(calls) == 0

    def test_literal_naming_a_node_passes_through(self, spark,
                                                  monkeypatch):
        """The guard matches plan node classes: a string literal that
        spells one (``Join AS src`` in the plan text) is no join."""
        from geospark.operators.joins import pip_tile_counts
        calls = self._count_materialize(monkeypatch)
        pts = _pts(spark, 500).withColumn("src", F.lit("Join"))
        out = pip_tile_counts(pts, _boxes(spark, 40), res=6)
        assert sum(calls) == 0
        assert out.count() > 0


def _stars(spark, n, k):
    """n star polygons of k edges each (zone ids 0..n-1)."""
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    rows = []
    for i in range(n):
        cx, cy = -120.0 + 60.0 * i, 10.0 * (i % 3) - 10.0
        t = np.linspace(0.0, 2.0 * np.pi, k, endpoint=False)
        r = np.where(np.arange(k) % 2 == 0, 25.0, 15.0)
        xs, ys = cx + r * np.cos(t), cy + r * np.sin(t)
        ring = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
        rows.append((i, write_wkb(parse_wkt(
            f"POLYGON (({ring}, {xs[0]!r} {ys[0]!r}))"))))
    return spark.createDataFrame(rows, "zone_id long, geom_wkb binary")


class TestManyEdgeSide:
    def test_pip_tile_counts_refines_by_udf(self, spark, monkeypatch):
        """A collected side past the expression refine's edge limit
        refines through the shared UDF rule (no unrolled CASE) and
        still equals tile_counts over the plain join."""
        import geospark.operators.joins as J
        from geospark.operators.tiles import tile_counts

        def unrolled_case(*a, **kw):
            raise AssertionError("expression refine on a 200-edge side")

        monkeypatch.setattr(J, "refine_expr_col", unrolled_case)
        pts, stars = _pts(spark), _stars(spark, 2, 100)
        got_df = J.pip_tile_counts(pts, stars, res=6)
        plan = got_df._sc._jvm.PythonSQLUtils.explainString(
            got_df._jdf.queryExecution(), "formatted")
        assert "ArrowEvalPython" in plan
        got = {(r.zone_id, r.cell): r.n_docs for r in got_df.collect()}
        want = {(r.zone_id, r.cell): r.n_docs for r in tile_counts(
            J.spatial_join(pts, stars, res=6), 6,
            extra_keys=["zone_id"]).collect()}
        assert got == want and len(want) > 0


class TestSemiAntiRowId:
    @pytest.mark.parametrize("distributed", [False, True])
    def test_caller_rid_column_is_not_trusted(self, spark, distributed):
        """A caller column named _rid is data, not a row id: with every
        _rid equal, semi + anti must still split the input exactly as a
        brute-force ray cast does, and _rid passes through unchanged."""
        from geospark.kernels.ops import point_in_rings
        from geospark.kernels.wkb import parse_wkb
        from geospark.operators.joins import spatial_join
        pts = _pts(spark, 2000).withColumn("_rid", F.lit(7).cast("long"))
        boxes = _boxes(spark, 20)
        rings = [parse_wkb(r.geom_wkb).rings for r in boxes.collect()]
        p = pts.toPandas()
        inside = np.zeros(len(p), dtype=bool)
        for rr in rings:
            inside |= point_in_rings(p["lon"].to_numpy(),
                                     p["lat"].to_numpy(), rr)
        want = set(p["pid"][inside])
        semi = spatial_join(pts, boxes, res=6, how="left_semi",
                            distributed=distributed).collect()
        anti = spatial_join(pts, boxes, res=6, how="left_anti",
                            distributed=distributed).collect()
        assert {r.pid for r in semi} == want and 0 < len(want) < len(p)
        assert {r.pid for r in anti} == set(p["pid"]) - want
        assert len(semi) + len(anti) == len(p)
        assert {r["_rid"] for r in semi + anti} == {7}


class TestPolyJoinMixedTiers:
    def test_mixed_rect_triangle_matches_brute_force(self, spark):
        """r6 row-level refine: rect x rect pairs decided pre-agg, the
        residue by exact geometry — a mixed join must equal the O(n^2)
        kernel answer."""
        from geospark.kernels.geom import parse_wkt
        from geospark.kernels.ops import geom_intersects
        from geospark.kernels.wkb import parse_wkb, write_wkb
        from geospark.operators.joins import spatial_join_polygons
        rng = np.random.default_rng(7)
        lrows = []
        for i in range(30):  # rectangles
            cx, cy = rng.uniform(-100, 100), rng.uniform(-50, 50)
            h = rng.uniform(1.0, 4.0)
            w = (f"POLYGON (({cx-h!r} {cy-h!r}, {cx+h!r} {cy-h!r}, "
                 f"{cx+h!r} {cy+h!r}, {cx-h!r} {cy+h!r}, "
                 f"{cx-h!r} {cy-h!r}))")
            lrows.append((i, write_wkb(parse_wkt(w))))
        rrows = []
        for i in range(30):  # triangles (general tier)
            cx, cy = rng.uniform(-100, 100), rng.uniform(-50, 50)
            p = rng.uniform(-4, 4, (3, 2)) + np.array([cx, cy])
            ring = np.vstack([p, p[:1]])
            body = ", ".join(f"{a!r} {b!r}" for a, b in ring)
            rrows.append((1000 + i,
                          write_wkb(parse_wkt(f"POLYGON (({body}))"))))
        l = spark.createDataFrame(lrows, "l_id long, geom_wkb binary")
        r = spark.createDataFrame(rrows, "r_id long, geom_wkb binary")
        got = {(x.l_id, x.r_id) for x in
               spatial_join_polygons(l, r, res=5).collect()}
        want = set()
        for lid, lw in lrows:
            gl = parse_wkb(lw)
            for rid, rw in rrows:
                if geom_intersects(gl, parse_wkb(rw)):
                    want.add((lid, rid))
        assert got == want and len(want) > 0


class TestFanoutRepartition:
    def test_fires_small_input(self, spark):
        from geospark.operators.par import fanout_repartition
        df = spark.range(100).coalesce(1)
        out = fanout_repartition(df)
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
        assert sorted(r.id for r in out.collect()) == list(range(100))

    def test_noop_when_wide_enough(self, spark):
        from geospark.operators.par import fanout_repartition
        par = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(par)
        assert fanout_repartition(df) is df

    def test_fires_on_unknown_size_whatever_the_cap(self, spark):
        """An RDD-backed input has no size estimate, so the byte cap
        cannot apply: the partition-count gate alone decides."""
        from geospark.operators.par import fanout_repartition, plan_bytes
        df = spark.createDataFrame([(i,) for i in range(100)],
                                   "id long").coalesce(1)
        assert plan_bytes(df) is None
        spark.conf.set("spark.geospark.fanout.repartitionMaxBytes", "1")
        try:
            out = fanout_repartition(df)
        finally:
            spark.conf.unset("spark.geospark.fanout.repartitionMaxBytes")
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
        assert sorted(r.id for r in out.collect()) == list(range(100))

    def test_plan_bytes_known_size(self, spark):
        from geospark.operators.par import plan_bytes
        size = plan_bytes(spark.read.parquet(f"{SF}/customer.parquet"))
        assert isinstance(size, int) and 0 < size < 1 << 40

    def test_noop_above_byte_cap(self, spark):
        from geospark.operators.par import fanout_repartition
        df = spark.range(100).coalesce(1)
        spark.conf.set("spark.geospark.fanout.repartitionMaxBytes", "1")
        try:
            assert fanout_repartition(df) is df
        finally:
            spark.conf.unset("spark.geospark.fanout.repartitionMaxBytes")
