"""Round-2 scale-path tests: banded hyperplane LSH (recall + bucket
cap), ngram document-frequency cap, distributed polygon covering
(driver-path parity + plan shape), and the lon-wrapped kNN metric.
"""

from __future__ import annotations

import numpy as np
import pytest

pytestmark = pytest.mark.spark


def _plan(spark, df, mode: str = "formatted") -> str:
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jm.fromString(mode))


# ---------------------------------------------------------------------------
# banded multi-table hyperplane LSH
# ---------------------------------------------------------------------------

def _planted_embeddings(spark, n_base: int = 30, n_noise: int = 140,
                        dim: int = 64):
    """(df, planted_pairs): pairs (2i, 2i+1) are near-dups with cosine
    >= ~0.99; the rest is isotropic noise."""
    rng = np.random.default_rng(7)
    rows = []
    pairs = []
    vid = 0
    for _ in range(n_base):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        w = v + rng.normal(size=dim) * 0.02
        w /= np.linalg.norm(w)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        pairs.append((vid, vid + 1))
        vid += 2
    for _ in range(n_noise):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, pairs


def test_lsh_near_dup_planted_recall(spark):
    from geospark.operators.similarity import lsh_near_dup
    df, pairs = _planted_embeddings(spark)
    got = {(r.vec_a, r.vec_b)
           for r in lsh_near_dup(df, threshold=0.9).collect()}
    hit = sum(1 for p in pairs if p in got)
    assert hit / len(pairs) >= 0.9
    # and no false positives below the cosine threshold by construction
    for a, b in got:
        assert (a, b) in pairs or abs(a - b) <= 1  # planted ids adjacent


def test_lsh_near_dup_bucket_cap_active(spark):
    """max_bucket=1 drops every pair-capable bucket -> empty result:
    the cap is live in the plan, not decorative (the round-1 version
    self-joined buckets uncapped)."""
    from geospark.operators.similarity import lsh_near_dup
    df, _ = _planted_embeddings(spark, n_base=5, n_noise=10)
    assert lsh_near_dup(df, threshold=0.0, max_bucket=1).count() == 0


def test_lsh_matches_duckdb_twin(spark):
    """Spark result == DuckDB twin on the planted table (the hyperplane
    sums must be bit-identical cross-engine)."""
    import duckdb
    from geospark.operators.similarity import lsh_near_dup, lsh_near_dup_sql
    df, _ = _planted_embeddings(spark, n_base=10, n_noise=40)
    got = {(r.vec_a, r.vec_b, r.sim)
           for r in lsh_near_dup(df, threshold=0.5).collect()}
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("embeddings", pdf)
    exp = {(int(a), int(b), float(s)) for a, b, s in
           con.execute(lsh_near_dup_sql(threshold=0.5)).fetchall()}
    assert got == exp


# ---------------------------------------------------------------------------
# ngram document-frequency cap
# ---------------------------------------------------------------------------

def test_ngram_pairs_df_cap(spark):
    from geospark.operators.dedup import ngram_pairs
    # A/B are near-identical; every doc shares the boilerplate "zqx"
    docs = [(1, "s", "zqx alpha beta gamma delta"),
            (2, "s", "zqx alpha beta gamma delt"),
            (3, "s", "zqx completely different text one"),
            (4, "s", "zqx unrelated words entirely two")]
    df = spark.createDataFrame(docs, "doc_id long, source string, "
                                     "text string")
    # no cap: A/B found
    uncapped = ngram_pairs(df, threshold=0.5, max_df=10**6)
    assert {(r.doc_a, r.doc_b) for r in uncapped.collect()} == {(1, 2)}
    # cap at df<=1: every shared gram dropped -> no pairs at all
    assert ngram_pairs(df, threshold=0.0, max_df=1,
                       log_drops=True).count() == 0
    # cap at df<=2: grams shared by 3+ docs (boilerplate) dropped, the
    # A/B pair survives on its private grams
    capped = ngram_pairs(df, threshold=0.5, max_df=2)
    assert {(r.doc_a, r.doc_b) for r in capped.collect()} == {(1, 2)}


# ---------------------------------------------------------------------------
# distributed polygon covering
# ---------------------------------------------------------------------------

def _pts(spark):
    import geospark.queries as q
    return q._cust_points(spark, "/root/testdata/sf0.001")


def test_distributed_join_matches_driver_path(spark):
    import geospark.queries as q
    from geospark.operators.joins import spatial_join
    pts = _pts(spark)
    zones = q.fixed_zones_df(spark)
    a = spatial_join(pts, zones, res=6)
    b = spatial_join(pts, zones, res=6, distributed=True)
    ra = sorted((r.c_custkey, r.zone_id) for r in
                a.select("c_custkey", "zone_id").collect())
    rb = sorted((r.c_custkey, r.zone_id) for r in
                b.select("c_custkey", "zone_id").collect())
    assert ra == rb


def test_distributed_join_plan_has_no_driver_covering(spark):
    """Plan proof: covering runs as MapInPandas (executors), and the
    polygon side never appears as a driver-materialized local table.
    Round-3: the join checkpoints the cover once (the union's three
    branches otherwise re-ran the Python covering), so the covering
    plan is asserted on the cover frame itself and the join plan must
    scan the checkpointed RDD — still zero LocalTableScan."""
    import geospark.queries as q
    from geospark.operators.joins import (distributed_polygon_cover,
                                          spatial_join)
    pts = _pts(spark)
    q.fixed_zones_df(spark).write.mode("overwrite") \
        .parquet("/tmp/geospark_test_zones")
    zdf = pts.sparkSession.read.parquet("/tmp/geospark_test_zones")
    pc = _plan(pts.sparkSession,
               distributed_polygon_cover(zdf, 6, "zone_id", "geom_wkb"))
    assert "MapInPandas" in pc           # covering on executors
    out = spatial_join(pts, zdf, res=6, distributed=True)
    p = _plan(pts.sparkSession, out)
    # the polygon source stays executor-side: checkpointed-RDD scan,
    # never a collected local relation (the driver path materializes
    # cover via createDataFrame)
    assert "Scan ExistingRDD" in p
    assert p.count("LocalTableScan") == 0


def test_distributed_semi_anti(spark):
    import geospark.queries as q
    from geospark.operators.joins import spatial_join
    pts = _pts(spark)
    zones = q.fixed_zones_df(spark)
    semi = spatial_join(pts, zones, res=6, how="left_semi",
                        distributed=True).count()
    anti = spatial_join(pts, zones, res=6, how="left_anti",
                        distributed=True).count()
    assert semi + anti == pts.count()
    assert semi == spatial_join(pts, zones, res=6,
                                how="left_semi").count()


def test_pick_resolution_distributed_no_collect(spark):
    import geospark.queries as q
    from geospark.operators.joins import (_pick_resolution_distributed,
                                          pick_resolution)
    zones = q.fixed_zones_df(spark)
    res_d = _pick_resolution_distributed(zones, "geom_wkb")
    polys = [(r.zone_id, r.geom_wkb) for r in zones.collect()]
    assert res_d == pick_resolution(polys)


# ---------------------------------------------------------------------------
# one Python pass per distributed polygon side: the cover's detection
# pass also picks the resolution
# ---------------------------------------------------------------------------

def _star_wkb(cx, cy, r_in, r_out, k=7):
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    t = np.linspace(0.0, 2.0 * np.pi, 2 * k, endpoint=False)
    r = np.where(np.arange(2 * k) % 2 == 0, r_out, r_in)
    xs, ys = cx + r * np.cos(t), cy + r * np.sin(t)
    ring = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
    return write_wkb(parse_wkt(f"POLYGON (({ring}, {xs[0]!r} {ys[0]!r}))"))


def _box_wkb(x, y, w, h):
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    return write_wkb(parse_wkt(
        f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, "
        f"{x} {y + h}, {x} {y}))"))


def _mixed_side_rows(off: int = 0):
    """(id, wkb): 5 concave stars (envelope area 4), 4 rectangles (20),
    one multipolygon and one big-endian polygon (300 each), one EMPTY
    polygon, one NULL. The 11 envelopes have median 20 (res 9); a pass
    that lost the two general-codec rows would see median 4 (res 10)."""
    import struct

    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    rows = [(off + i, _star_wkb(-60.0 + 20 * i, 10.0, 0.5, 1.0))
            for i in range(5)]
    rows += [(off + 10 + i, _box_wkb(-50 + 25 * i, -30, 5, 4))
             for i in range(4)]
    rows.append((off + 20, write_wkb(parse_wkt(
        "MULTIPOLYGON (((100 40, 110 40, 105 45, 100 40)), "
        "((112 55, 120 55, 116 70, 112 55)))"))))
    ring = [(-130.0, -50.0), (-110.0, -50.0), (-120.0, -35.0),
            (-130.0, -50.0)]
    rows.append((off + 21, struct.pack(">BII", 0, 3, 1)
                 + struct.pack(">I", len(ring))
                 + b"".join(struct.pack(">dd", x, y) for x, y in ring)))
    rows.append((off + 22, write_wkb(parse_wkt("POLYGON EMPTY"))))
    rows.append((off + 23, None))
    return rows


def _mixed_points(spark, rows):
    """Points scattered over (and around) every polygon's envelope."""
    from geospark.kernels.ops import geom_envelope
    from geospark.kernels.wkb import parse_wkb
    rng = np.random.default_rng(11)
    pts = []
    for _, w in rows:
        g = parse_wkb(w) if w is not None else None
        if g is None or g.is_empty:
            continue
        x0, y0, x1, y1 = geom_envelope(g)
        for lon, lat in zip(rng.uniform(x0 - 1, x1 + 1, 40),
                            rng.uniform(y0 - 1, y1 + 1, 40)):
            pts.append((len(pts), float(lat), float(lon)))
    return spark.createDataFrame(pts, "pid long, lat double, lon double")


def test_envelope_areas_match_st_envelope():
    """The detection pass's envelope areas equal st_envelope's (batch
    kernel), with NULL/EMPTY reported as 0."""
    import pandas as pd

    from geospark.functions.geometry import (_series_to_wkb_buffers,
                                             _st_envelope_batch)
    from geospark.kernels.wkb import parse_polygon_wkb_buffer
    from geospark.operators.joins import _envelope_areas
    s = pd.Series([w for _, w in _mixed_side_rows()], dtype=object)
    data, offs, val = _series_to_wkb_buffers(s)
    got = _envelope_areas(s, parse_polygon_wkb_buffer(data, offs, val), val)
    e = _st_envelope_batch(s)
    want = ((e["xmax"] - e["xmin"]) * (e["ymax"] - e["ymin"])).to_numpy()
    assert np.array_equal(got, np.nan_to_num(want, nan=0.0))
    assert (got > 0).sum() == 11


def test_resolution_pick_parity_mixed_side(spark, monkeypatch):
    """_pick_resolution_distributed, the resolution spatial_join
    (distributed=True) and spatial_join_polygons cover with, and
    pick_resolution over the collected rows agree on a side mixing
    stars, rectangles, a multipolygon, a big-endian polygon, EMPTY and
    NULL; both joins equal brute force."""
    from geospark.kernels.ops import geom_intersects, point_in_rings
    from geospark.kernels.wkb import parse_wkb
    from geospark.operators import joins
    rows = _mixed_side_rows()
    side = spark.createDataFrame(rows, "zone_id long, geom_wkb binary")
    res_c = joins.pick_resolution(rows)
    assert res_c == 9
    assert joins._pick_resolution_distributed(side, "geom_wkb") == res_c

    used = []
    cover_from_info = joins._cover_from_info

    def spy(polys_df, info, res, *a):
        used.append(res)
        return cover_from_info(polys_df, info, res, *a)

    monkeypatch.setattr(joins, "_cover_from_info", spy)
    pts = _mixed_points(spark, rows)
    got = {(r.pid, r.zone_id) for r in joins.spatial_join(
        pts, side, distributed=True).select("pid", "zone_id").collect()}
    assert used == [res_c]
    want = set()
    pdf = pts.toPandas()
    for zid, w in rows:
        g = parse_wkb(w) if w is not None else None
        hit = np.zeros(len(pdf), dtype=bool)
        for rings in joins._geom_rings(g) if g is not None else []:
            hit |= point_in_rings(pdf["lon"].to_numpy(),
                                  pdf["lat"].to_numpy(), rings)
        want |= {(int(p), zid) for p in pdf["pid"][hit]}
    assert got == want and {z for _, z in want} >= {0, 10, 20, 21}

    rrows = _mixed_side_rows(off=100) + [
        (200, _box_wkb(-62, 8, 25, 3)), (201, _box_wkb(95, 38, 30, 30)),
        (202, _star_wkb(-125.0, -45.0, 3.0, 8.0))]
    left = side.withColumnRenamed("zone_id", "l_id")
    right = spark.createDataFrame(rrows, "r_id long, geom_wkb binary")
    used.clear()
    got = {(r.l_id, r.r_id) for r in
           joins.spatial_join_polygons(left, right).collect()}
    res_r = joins._pick_resolution_distributed(right, "geom_wkb")
    assert res_r == joins.pick_resolution(rrows)
    assert used == [min(res_c, res_r)] * 2
    want = {(lid, rid) for lid, lw in rows for rid, rw in rrows
            if lw is not None and rw is not None
            and geom_intersects(parse_wkb(lw), parse_wkb(rw))}
    assert got == want and len(want) > 11


def _plan_jobs(sc, fn):
    """(jobs in a fresh job group, jobs outside any group) that ``fn``
    submits: plan building only, no action on its result."""
    import uuid
    tracker = sc.statusTracker()
    group = f"plan-jobs-{uuid.uuid4().hex}"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return (len(tracker.getJobIdsForGroup(group)),
            len(set(tracker.getJobIdsForGroup(None)) - before))


def test_distributed_sides_read_once_job_counts(spark):
    """Plan-time jobs per distributed polygon side: the detection pass
    and its stats aggregation (a Python map job and a result job), plus
    one single-task JVM job for the rect cover rows when spatial_join
    picks the resolution. A resolution pick that re-read the side would
    add a Python job and a result job per side. spatial_join_polygons'
    two per-side passes run from driver threads that keep the caller's
    job group."""
    from geospark.operators.joins import spatial_join, spatial_join_polygons
    sc = spark.sparkContext
    side = spark.createDataFrame(_mixed_side_rows(),
                                 "zone_id long, geom_wkb binary")
    pts = _mixed_points(spark, _mixed_side_rows())
    assert _plan_jobs(sc, lambda: spatial_join(
        pts, side, distributed=True)) == (3, 0)
    assert _plan_jobs(sc, lambda: spatial_join(
        pts, side, res=9, distributed=True)) == (2, 0)
    boxes = [(i, _box_wkb(-170 + 7 * i, -20 + (i % 5), 3, 2))
             for i in range(40)]
    left = spark.createDataFrame(boxes, "l_id long, geom_wkb binary")
    right = spark.createDataFrame([(i, _box_wkb(-169 + 7 * i, -19, 4, 4))
                                   for i in range(40)],
                                  "r_id long, geom_wkb binary")
    assert _plan_jobs(sc, lambda: spatial_join_polygons(
        left, right)) == (4, 0)


# ---------------------------------------------------------------------------
# lon-wrapped kNN metric
# ---------------------------------------------------------------------------

def test_knn_lonwrap_crosses_antimeridian(spark):
    from geospark.operators.joins import knn_join
    q = spark.createDataFrame([(1, 0.0, 179.5)],
                              "query_id long, q_lat double, q_lon double")
    pts = spark.createDataFrame(
        [(10, 0.0, -179.9),   # wrapped dist 0.6 deg
         (20, 0.0, 170.0),    # dist 9.5 deg
         (30, 0.0, 150.0)],
        "point_id long, lat double, lon double")
    planar = knn_join(q, pts, 1, res=4, metric="planar").collect()[0]
    wrapped = knn_join(q, pts, 1, res=4, metric="lonwrap").collect()[0]
    assert planar.point_id == 20      # documented planar contract
    assert wrapped.point_id == 10     # wrap-aware winner
    assert abs(wrapped.sqdist - 0.6 ** 2) < 1e-9


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------

def test_ivf_recall_on_clustered_data(spark):
    """IVF with nprobe=2 on clustered vectors: the true top-10 live in
    the query's cluster, so recall vs the exact baseline must be high."""
    from geospark.operators.similarity import ivf_ann_topk, ivf_train
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 64)) * 3
    rows = []
    for i in range(400):
        v = centers[i % 4] + rng.normal(size=64) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sample = np.array([r[1] for r in rows[:128]], dtype=np.float64)
    cent = ivf_train(sample, k=4, iters=5)
    qv = rows[0][1]
    got = [r.vec_id for r in ivf_ann_topk(df, qv, cent, 10,
                                          nprobe=2).collect()]
    # exact baseline: brute-force cosine in numpy
    m = np.array([r[1] for r in rows], dtype=np.float64)
    q = np.array(qv, dtype=np.float64)
    sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    exact = list(np.argsort(-np.round(sims, 6), kind="stable")[:10])
    recall = len(set(got) & set(int(i) for i in exact)) / 10
    assert recall >= 0.9


def test_ivf_assign_matches_sql_argmin(spark):
    """The pandas-UDF assignment and the SQL CASE/LEAST argmin agree on
    every vector (bit-identical sequential distance sums)."""
    import duckdb
    from geospark.operators.similarity import (ivf_assign_sql,
                                               ivf_assign_udf, ivf_train)
    from pyspark.sql import functions as F
    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = ivf_train(np.array([r[1] for r in rows[:64]]), k=5, iters=3)
    assign = ivf_assign_udf(cent)
    e = df.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("v"))
    got = {r.vec_id: r.a for r in
           e.select("vec_id", assign(F.col("v")).alias("a")).collect()}
    con = duckdb.connect()
    con.register("embeddings", df.toPandas())
    exp = {int(i): int(a) for i, a in con.execute(
        "SELECT vec_id, "
        + ivf_assign_sql("CAST(embedding AS DOUBLE[])", cent)
        + " AS a FROM embeddings").fetchall()}
    assert got == exp


# ---------------------------------------------------------------------------
# duplicate clustering (connected components)
# ---------------------------------------------------------------------------

def test_connected_components_chain_and_islands(spark):
    from geospark.operators.dedup import connected_components
    # chain 1-2-3-4-5 (diameter 4 -> multiple propagation rounds),
    # triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_random_graph_parity(spark):
    """Random seeded graph vs an independent union-find reference."""
    from geospark.operators.dedup import connected_components
    rng = np.random.default_rng(21)
    n, m = 120, 150
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, n, size=(m, 2)) if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # reference label = min node id in each component, for nodes
    # that appear in at least one edge (pairs define the node set)
    in_graph = {x for e in edges for x in e}
    comp = {}
    for x in in_graph:
        comp.setdefault(find(x), []).append(x)
    exp = {x: min(v) for v in comp.values() for x in v}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(df).collect()}
    assert got == exp


# ---------------------------------------------------------------------------
# batch sessionizer vs pure-Python reference on random seeded events
# ---------------------------------------------------------------------------

def test_sessionize_matches_python_reference(spark, tmp_path):
    import datetime as dt
    import geospark.queries as q
    rng = np.random.default_rng(31)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(600):
        uid = int(rng.integers(0, 12))
        # minutes drawn so some gaps exceed 30min and some don't
        t = base + dt.timedelta(minutes=float(rng.uniform(0, 3000)),
                                microseconds=int(rng.integers(0, 10**6)))
        rows.append((eid, t, uid))
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "event_id long, ts timestamp_ntz, "
                                "user_id long") \
        .write.mode("overwrite").parquet(src)

    # pure-Python reference
    from collections import defaultdict, Counter
    by_user = defaultdict(list)
    for eid, t, uid in rows:
        by_user[uid].append((t, eid))
    exp = Counter()
    for uid, evs in by_user.items():
        evs.sort()
        start = last = None
        n = 0
        sessions = []
        for t, _ in evs:
            if last is not None and (t - last).total_seconds() > 1800:
                sessions.append((n, (last - start).total_seconds()))
                start, n = t, 0
            if start is None:
                start = t
            last = t
            n += 1
        sessions.append((n, (last - start).total_seconds()))
        for n_ev, dur in sessions:
            exp[(uid, n_ev, round(dur, 3))] += 1

    # run the catalog query against a dir shaped like a testdata dir
    import os
    os.makedirs(str(tmp_path / "sf"), exist_ok=True)
    os.rename(src, str(tmp_path / "sf" / "events.parquet"))
    out = q.q_sessionize(spark, str(tmp_path / "sf"))
    got = Counter((r.user_id, r.n_events, r.dur_s)
                  for r in out.collect())
    assert got == exp


def test_distributed_covering_100k_polygons(spark):
    """Scale proof for the driver-collect-free path: a 100k-polygon
    side (the shape that would OOM/serialize through the driver in the
    round-1 implementation) covers, joins and refines; spot-check the
    result against closed-form box containment."""
    from pyspark.sql import functions as F
    from geospark.functions.geometry import st_geomfromtext
    from geospark.operators.joins import spatial_join
    n = 100_000
    b = spark.range(n).select(
        F.col("id").alias("box_id"),
        (((F.col("id") * 13) % 340).cast("double") - 170.0).alias("cx"),
        (((F.col("id") * 29) % 160).cast("double") - 80.0).alias("cy"),
        (0.205 + (F.col("id") % 4).cast("double") * 0.1).alias("half"))
    x0, y0 = (F.col("cx") - F.col("half")).cast("string"), \
             (F.col("cy") - F.col("half")).cast("string")
    x1, y1 = (F.col("cx") + F.col("half")).cast("string"), \
             (F.col("cy") + F.col("half")).cast("string")
    wkt = F.concat(F.lit("POLYGON (("), x0, F.lit(" "), y0, F.lit(", "),
                   x1, F.lit(" "), y0, F.lit(", "), x1, F.lit(" "), y1,
                   F.lit(", "), x0, F.lit(" "), y1, F.lit(", "),
                   x0, F.lit(" "), y0, F.lit("))"))
    boxes = b.select("box_id", st_geomfromtext(wkt).alias("geom_wkb"))
    pts = spark.range(2000).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 7) % 160).cast("double") - 80.0 + 0.31)
        .alias("lat"),
        (((F.col("id") * 11) % 340).cast("double") - 170.0 + 0.27)
        .alias("lon"))
    out = spatial_join(pts, boxes, res=9, poly_id_col="box_id",
                       distributed=True)
    got = {(r.pid, r.box_id) for r in
           out.select("pid", "box_id").collect()}
    # closed-form reference via a plain JVM bbox join
    ref = (pts.crossJoin(F.broadcast(b))
           .filter((F.col("lon") >= F.col("cx") - F.col("half"))
                   & (F.col("lon") < F.col("cx") + F.col("half"))
                   & (F.col("lat") >= F.col("cy") - F.col("half"))
                   & (F.col("lat") < F.col("cy") + F.col("half"))))
    exp = {(r.pid, r.box_id) for r in
           ref.select("pid", "box_id").collect()}
    assert got == exp and len(got) > 0
