"""Tier 1-3 — Spark engine tests: entry smoke, join exactness vs
brute force, partition invariance, extraction invariants, kNN parity
(SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def pages(spark):
    from geospark.sources.synth import pages_df
    return pages_df(spark, 1500).cache()


@pytest.fixture(scope="module")
def geo(spark, pages):
    from geospark.operators.extract import extract_pages
    return extract_pages(pages).cache()


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"zone_id", "cell", "n_pts"}


def test_text_extraction_invariant(spark, pages):
    from geospark.operators.extract import with_extracted_text
    bad = with_extracted_text(pages).filter("text <> text_extracted")
    assert bad.count() == 0


def test_extract_jvm_equals_pandas(spark, pages):
    """The single-pass JVM extractor and the pandas twin produce the
    same multiset of geotag rows."""
    from geospark.operators.extract import extract_pages, \
        extract_pages_pandas
    key = lambda r: (r.url, round(r.lat, 9), round(r.lon, 9), r.kind)  # noqa
    a = sorted(map(key, extract_pages(pages).collect()))
    b = sorted(map(key, extract_pages_pandas(pages).collect()))
    assert a == b


def test_synth_parallelism_invariant(spark):
    from geospark.sources.synth import pages_df
    a = pages_df(spark, 400).repartition(1).orderBy("url").toPandas()
    b = pages_df(spark, 400).repartition(13).orderBy("url").toPandas()
    assert a.equals(b)


def _brute_pairs(geo_pdf, zones_rows):
    from geospark.kernels.ops import point_in_rings
    from geospark.kernels.wkb import parse_wkb
    from geospark.operators.joins import _geom_rings
    exp = set()
    for z in zones_rows:
        if z.geom_wkb is None:
            continue
        g = parse_wkb(z.geom_wkb)
        for rings in _geom_rings(g):
            m = point_in_rings(geo_pdf["lon"].to_numpy(),
                               geo_pdf["lat"].to_numpy(), rings)
            for i in np.nonzero(m)[0]:
                exp.add((geo_pdf["url"].iloc[i],
                         float(geo_pdf["lat"].iloc[i]),
                         float(geo_pdf["lon"].iloc[i]), z.zone_id))
    return exp


def test_spatial_join_exact_vs_bruteforce(spark, geo):
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark)
    got = set((r.url, float(r.lat), float(r.lon), r.zone_id)
              for r in spatial_join(geo, zones, res=8).collect())
    exp = _brute_pairs(geo.toPandas(), zones.collect())
    assert got == exp


def test_spatial_join_partition_invariance(spark, geo):
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark)
    a = set((r.url, r.zone_id) for r in
            spatial_join(geo.repartition(1), zones, res=7).collect())
    b = set((r.url, r.zone_id) for r in
            spatial_join(geo.repartition(32), zones, res=7).collect())
    assert a == b


def test_spatial_join_resolution_invariance(spark, geo):
    """Join output must not depend on the covering resolution."""
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark)
    a = set((r.url, r.zone_id) for r in
            spatial_join(geo, zones, res=5).collect())
    b = set((r.url, r.zone_id) for r in
            spatial_join(geo, zones, res=10).collect())
    assert a == b


def test_spatial_join_shuffled_cover_path(spark, geo):
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark)
    a = set((r.url, r.zone_id) for r in
            spatial_join(geo, zones, res=8).collect())
    b = set((r.url, r.zone_id) for r in
            spatial_join(geo, zones, res=8,
                         broadcast_cover=False).collect())
    assert a == b


def test_spatial_join_refine_modes_agree(spark, geo,
                                         many_edge_zone):
    """The codegen'd expression refine and the pandas-UDF refine are the
    same arithmetic — outputs must be identical. One extra 200-edge
    zone pushes the side past the expression refine's edge limit."""
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark).select("zone_id", "geom_wkb")
    many = zones.unionByName(spark.createDataFrame(
        [many_edge_zone], "zone_id long, geom_wkb binary"))
    a = set((r.url, r.zone_id) for r in
            spatial_join(geo, zones, res=8).collect())
    b = set((r.url, r.zone_id) for r in
            spatial_join(geo, many, res=8).collect()
            if r.zone_id != many_edge_zone[0])
    assert a == b and len(a) > 0


def test_spatial_join_semi_anti_partition(spark, geo):
    from geospark.operators.joins import spatial_join
    from geospark.sources.synth import zones_df
    zones = zones_df(spark)
    semi = spatial_join(geo, zones, res=8, how="left_semi").count()
    anti = spatial_join(geo, zones, res=8, how="left_anti").count()
    assert semi + anti == geo.count()


def test_knn_exact_vs_bruteforce(spark, geo):
    from geospark.operators.joins import knn_join
    q = (geo.select(F.col("url").alias("query_id"),
                    F.col("lat").alias("q_lat"),
                    F.col("lon").alias("q_lon"))
         .dropDuplicates(["query_id"]).orderBy("query_id").limit(30)
         .cache())
    p = geo.select(F.xxhash64("url", "lat", "lon").alias("point_id"),
                   "lat", "lon").distinct().cache()
    got = knn_join(q, p, 4, res=7).toPandas()
    pp = p.toPandas()
    for qr in q.collect():
        d = ((pp["lat"] - qr.q_lat) ** 2 + (pp["lon"] - qr.q_lon) ** 2)
        order = sorted(zip(d.to_numpy(), pp["point_id"].to_numpy()))[:4]
        exp = [pid for _, pid in order]
        sub = got[got.query_id == qr.query_id].sort_values("rank")
        assert sub["point_id"].tolist() == exp


def test_knn_sparse_large_k_exact(spark):
    """Regression: with k near the dataset size the expansion ring grows
    past half the grid width; the longitude-wrap fanout must not emit
    duplicate candidate cells (duplicates filled top-k with repeats and
    falsely satisfied the distance guarantee)."""
    import geospark.queries as q
    from geospark.operators.joins import knn_join
    pts = q._cust_points(spark, "/root/testdata/sf0.001").limit(50) \
        .withColumnRenamed("c_custkey", "point_id").cache()
    pts.count()
    qs = q._supp_queries(spark, "/root/testdata/sf0.001").limit(10) \
        .cache()
    qs.count()
    got = knn_join(qs, pts, 20, res=6).toPandas()
    pp = pts.toPandas()
    assert not got.duplicated(["query_id", "point_id"]).any()
    for qr in qs.collect():
        d = (pp["lat"] - qr.q_lat) ** 2 + (pp["lon"] - qr.q_lon) ** 2
        exp = [pid for _, pid in
               sorted(zip(d.to_numpy(), pp["point_id"].to_numpy()))[:20]]
        sub = got[got.query_id == qr.query_id].sort_values("rank")
        assert sub["point_id"].tolist() == exp


def test_cell_cover_refine_consistency(spark):
    """Every point the refine accepts lies in a covered cell (covering
    is a superset — the join can never miss by construction)."""
    from geospark.functions.cells import cover_polygon_np, encode_np
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.ops import point_in_rings
    g = parse_wkt("POLYGON ((-10 -10, 30 -10, 30 25, -10 25, -10 -10), "
                  "(0 0, 10 0, 10 10, 0 10, 0 0))")
    rings = [r[:, :2] for r in g.rings]
    rng = np.random.default_rng(7)
    lon = rng.uniform(-20, 40, 5000)
    lat = rng.uniform(-20, 35, 5000)
    inside = point_in_rings(lon, lat, rings)
    for res in (4, 6, 9):
        cells = set(cover_polygon_np(rings, res).tolist())
        pc = encode_np(lat[inside], lon[inside], res)
        assert set(pc.tolist()) <= cells
