"""The traced run (``--trace 1``): per-layer metrics, timed from outside.

Three sources, none of them inside the program:

* kernels: the public NumPy/Python kernels called directly, without
  Spark, on a 65,536-row sample batch drawn from the workload's input;
* operators: each public call timed with its input materialized first
  and its output forced, under a Spark job group the benchmark sets;
* spark: an uncompressed event log, on for this run only, parsed by job
  group afterwards (``eventlog.py``).

In one session, after the warm-up, the run makes four timed passes in
the order untraced, traced, traced, untraced (the traced ones under the
job group ``pass``, with the event log attached), then the operator
calls. ``trace.overhead_frac`` compares the two pairs' ``rows_per_s``;
the ABBA order cancels the JVM's steady warm-up between them.
Every metric goes to one JSON file; the result line carries the metrics
named in ``PER_LAYER`` (0 where a metric does not apply to the workload).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
from eventlog import MB, EventLog
from gen import CODEC_GROUPS, FLAGSHIP_RES, dir_bytes
from loop import Runner, stop_session

SAMPLE_ROWS = 65_536
SPARK_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "fetch_wait_s", "spill_mb", "task_skew")
CALLS = {
    "flagship": ["extract_pages", "spatial_join", "tile_counts", "run_stage"],
    "polygon_join": ["distributed_polygon_cover", "spatial_join",
                     "spatial_join_polygons"],
    "geoarrow_codec": ["to_geoarrow", "from_geoarrow"],
    "near_dup": ["lsh_candidate_pairs", "jaccard_verify"],
}
# the per-layer metrics of the workloads BENCHMARK.json lists
PER_LAYER = [
    "kernels.parse_polygon_wkb_buffer.rows_per_s",
    "kernels.point_in_rings.pairs_per_s",
    "functions.cover_polygon_np.polys_per_s",
    "functions.python_rows", "functions.python_mb_sent",
    "functions.python_mb_received", "functions.kernel_share",
    "operators.extract_pages.s", "operators.extract_pages.rows_out",
    "operators.tile_counts.s",
    "operators.spatial_join.s", "operators.spatial_join.match_ratio",
    "operators.spatial_join.broadcast_sides",
    "operators.spatial_join.shuffled_sides",
    "operators.distributed_polygon_cover.s",
    "operators.distributed_polygon_cover.rows_out",
    "operators.spatial_join_polygons.s",
    "operators.spatial_join_polygons.pairs_out",
    "sources.run_stage.s", "sources.commit_s", "sources.mb_written",
    "sources.write_amplification",
] + [f"spark.{c}.{f}"
     for c in dict.fromkeys(CALLS["flagship"] + CALLS["polygon_join"])
     for f in SPARK_FIELDS] + ["spark.failed_tasks", "trace.overhead_frac"]


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    words = last.split("_")
    if last.endswith("per_s"):
        return "1/s"
    if words[-1] == "s":
        return "s"
    if "mb" in words:
        return "MB"
    if words[-1] in ("rows", "out", "tasks", "sides", "after"):
        return "count"
    return "ratio"


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _binary_buffers(values: list):
    a = pa.array(values, pa.binary())
    offsets = np.frombuffer(a.buffers()[1], np.int32)[:len(a) + 1]
    data = np.frombuffer(a.buffers()[2], np.uint8)
    return data, offsets.astype(np.int64)


def _sample(paths: list[str], column: str, rng) -> list:
    vals = []
    for p in paths:
        vals += pq.read_table(p, columns=[column])[column].to_pylist()
    idx = rng.integers(0, len(vals), SAMPLE_ROWS)
    return [vals[i] for i in idx]


# ---------------------------------------------------------------------------
# kernels (no Spark)
# ---------------------------------------------------------------------------

def kernel_metrics(workload: str, man: dict) -> dict:
    rng = np.random.default_rng(man["seed"])
    shards = [s["dir"] for s in man["shards"]]
    out: dict[str, float] = {}
    if workload == "polygon_join":
        from geospark.functions.cells import cover_polygon_np
        from geospark.kernels.ops import point_in_rings
        from geospark.kernels.wkb import parse_polygon_wkb_buffer, parse_wkb
        from geospark.operators.joins import pick_resolution
        polys = _sample([f"{d}/{s}" for d in shards
                         for s in ("small", "large")], "geom_wkb", rng)
        data, offs = _binary_buffers(polys)
        out["kernels.parse_polygon_wkb_buffer.rows_per_s"] = SAMPLE_ROWS / \
            _median_time(lambda: parse_polygon_wkb_buffer(data, offs, None))
        lat = np.asarray(_sample([f"{d}/points" for d in shards], "lat",
                                 np.random.default_rng(man["seed"])))
        lon = np.asarray(_sample([f"{d}/points" for d in shards], "lon",
                                 np.random.default_rng(man["seed"])))
        rings = [parse_wkb(w).rings for w in polys[:8]]
        out["kernels.point_in_rings.pairs_per_s"] = SAMPLE_ROWS * 8 / \
            _median_time(lambda: [point_in_rings(lon, lat, r)
                                  for r in rings])
        # covering is per polygon: time the first 256 of the sample at
        # the resolution the driver tier would pick for them
        some = polys[:256]
        res = pick_resolution(list(enumerate(some)))
        rings = [parse_wkb(w).rings for w in some]
        out["functions.cover_polygon_np.polys_per_s"] = len(some) / \
            _median_time(lambda: [cover_polygon_np(r, res) for r in rings],
                         reps=1)
    elif workload == "geoarrow_codec":
        from geospark.kernels.garrow import (geoarrow_to_geoms,
                                             geoms_to_geoarrow)
        from geospark.kernels.ops import polygon_batch_area_centroid
        from geospark.kernels.wkb import (parse_polygon_wkb_buffer,
                                          parse_wkb, write_wkb)
        per = SAMPLE_ROWS // len(CODEC_GROUPS)
        t = dict.fromkeys(("parse", "write", "to", "from", "area"), 0.0)
        n_poly = 0
        for ext, dims in CODEC_GROUPS:
            wkbs = _sample([f"{d}/{ext}_{dims}" for d in shards], "wkb",
                           rng)[:per]
            geoms = [parse_wkb(w) if w is not None else None for w in wkbs]
            arr = geoms_to_geoarrow(geoms, ext, dims=dims)
            t["parse"] += _median_time(
                lambda: [parse_wkb(w) if w is not None else None
                         for w in wkbs])
            t["write"] += _median_time(lambda: [write_wkb(g) for g in geoms])
            t["to"] += _median_time(
                lambda: geoms_to_geoarrow(geoms, ext, dims=dims))
            t["from"] += _median_time(lambda: geoarrow_to_geoms(arr))
            if ext == "polygon":
                data, offs = _binary_buffers(wkbs)
                valid = np.array([w is not None for w in wkbs])
                t["area"] += _median_time(lambda: polygon_batch_area_centroid(
                    parse_polygon_wkb_buffer(data, offs, valid), len(wkbs)))
                n_poly += len(wkbs)
        n = per * len(CODEC_GROUPS)
        out["kernels.parse_wkb.rows_per_s"] = n / t["parse"]
        out["kernels.write_wkb.rows_per_s"] = n / t["write"]
        out["kernels.geoms_to_geoarrow.rows_per_s"] = n / t["to"]
        out["kernels.geoarrow_to_geoms.rows_per_s"] = n / t["from"]
        out["kernels.polygon_batch_area_centroid.rows_per_s"] = \
            n_poly / t["area"]
    return out


# ---------------------------------------------------------------------------
# operators (Spark, one call at a time under a job group)
# ---------------------------------------------------------------------------

class Calls:
    """Runs public calls under job groups and keeps their windows."""

    def __init__(self, spark):
        self.spark = spark
        self.windows: dict[str, list] = {}
        self.seconds: dict[str, float] = {}

    def __call__(self, group: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.windows.setdefault(group, []).append((t0 * 1e3, t1 * 1e3))
        self.seconds[group] = self.seconds.get(group, 0.0) + (t1 - t0)
        return out


def _force(df):
    """Materialize a call's output. -> (persisted df, rows)."""
    df = df.persist()
    return df, df.count()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _flagship_ops(spark, man, call, work) -> dict:
    from geospark.operators.extract import extract_pages
    from geospark.operators.joins import spatial_join
    from geospark.operators.tiles import tile_counts
    from geospark.sources.checkpoint import CheckpointStore, Pipeline
    from geospark.sources.synth import zones_df
    shard = man["shards"][man["n_warm"]]
    zones = zones_df(spark)
    pages, _ = _force(spark.read.parquet(shard["dir"]))
    geo, n_geo = call("extract_pages", lambda: _force(extract_pages(pages)))
    pip, n_pip = call("spatial_join", lambda: _force(
        spatial_join(geo, zones, res=FLAGSHIP_RES)))
    call("tile_counts", lambda: _force(tile_counts(
        pip, FLAGSHIP_RES, extra_keys=["zone_id", "lang"])))
    # the same three operator calls into a noop sink: what run_stage
    # adds on top of them is the commit
    t0 = time.perf_counter()
    _noop(extract_pages(pages))
    _noop(spatial_join(geo, zones, res=FLAGSHIP_RES))
    _noop(tile_counts(pip, FLAGSHIP_RES, extra_keys=["zone_id", "lang"]))
    noop_s = time.perf_counter() - t0
    root = os.path.join(work, "ckpt", "traced")

    def stages():
        pipe = Pipeline(spark, CheckpointStore(root))
        g = pipe.stage("geotags", lambda: extract_pages(pages))
        p = pipe.stage("pip", lambda: spatial_join(g, zones,
                                                   res=FLAGSHIP_RES))
        pipe.stage("tiles", lambda: tile_counts(
            p, FLAGSHIP_RES, extra_keys=["zone_id", "lang"]))

    call("run_stage", stages)
    written = sum(dir_bytes(d) for d in
                  glob.glob(os.path.join(root, "*", "snapshots"))
                  + glob.glob(os.path.join(root, "*", "_lineage")))
    return {"operators.extract_pages.s": call.seconds["extract_pages"],
            "operators.extract_pages.rows_out": n_geo,
            "operators.tile_counts.s": call.seconds["tile_counts"],
            "operators.spatial_join.s": call.seconds["spatial_join"],
            "operators.spatial_join.match_ratio": n_pip / max(n_geo, 1),
            "sources.run_stage.s": call.seconds["run_stage"],
            "sources.commit_s": call.seconds["run_stage"] - noop_s,
            "sources.mb_written": dir_bytes(root) / MB,
            "sources.write_amplification": written / shard["bytes"]}


def _polygon_join_ops(spark, man, call, work) -> dict:
    from pyspark.sql import functions as F

    from geospark.functions.cells import cell_encode
    from geospark.operators.joins import (_pick_resolution_distributed,
                                          distributed_polygon_cover,
                                          spatial_join, spatial_join_polygons)
    d = man["shards"][man["n_warm"]]["dir"]
    pts, n_pts = _force(spark.read.parquet(f"{d}/points"))
    sides = {s: _force(spark.read.parquet(f"{d}/{s}"))[0]
             for s in ("small", "large")}
    cover_rows = matched = ray_casts = general = 0
    for side in sides.values():
        # the resolution spatial_join(distributed=True) picks
        res = _pick_resolution_distributed(side, "geom_wkb")
        cover, n = call("distributed_polygon_cover", lambda: _force(
            distributed_polygon_cover(side, res, "zone_id", "geom_wkb")))
        cover_rows += n
        # the kernel work spatial_join does per side, counted outside
        # any call: the candidate rows that carry polygon WKB each take
        # one ray cast; the polygons off the rectangle tier each take
        # one Python covering
        ray_casts += pts.withColumn("_cell", cell_encode("lat", "lon", res)) \
            .join(cover.filter(F.col("_gwkb").isNotNull()), "_cell").count()
        general += cover.filter(~F.col("_rect")) \
            .select("zone_id").distinct().count()
    for side in sides.values():
        matched += len(call("spatial_join", lambda: spatial_join(
            pts, side, distributed=True).select("pid", "zone_id")
            .toPandas()))
    left = sides["small"].withColumnRenamed("zone_id", "l_id")
    right = sides["large"].withColumnRenamed("zone_id", "r_id")
    pairs = call("spatial_join_polygons",
                 lambda: spatial_join_polygons(left, right).toPandas())
    return {"operators.spatial_join.s": call.seconds["spatial_join"],
            "operators.spatial_join.match_ratio": matched / (2 * n_pts),
            "operators.distributed_polygon_cover.s":
                call.seconds["distributed_polygon_cover"],
            "operators.distributed_polygon_cover.rows_out": cover_rows,
            "operators.spatial_join_polygons.s":
                call.seconds["spatial_join_polygons"],
            "operators.spatial_join_polygons.pairs_out": len(pairs),
            "_ray_casts": ray_casts, "_general_polygons": general}


def _codec_ops(spark, man, call, work) -> dict:
    from geospark.functions.encoding import from_geoarrow, to_geoarrow
    from geospark.functions.geometry import st_area
    d = man["shards"][man["n_warm"]]["dir"]
    rows = 0
    for ext, dims in CODEC_GROUPS:
        df, n = _force(spark.read.parquet(f"{d}/{ext}_{dims}"))
        rows += n
        ga, _ = call("to_geoarrow", lambda: _force(
            to_geoarrow(df, "wkb", ext, dims)))
        call("from_geoarrow", lambda: _force(
            from_geoarrow(ga, "geom", ext, dims=dims)))
        if ext in ("polygon", "multipolygon"):
            call("st_area", lambda: _noop(df.select(st_area("wkb"))))
    return {"functions.to_geoarrow.s": call.seconds["to_geoarrow"],
            "functions.from_geoarrow.s": call.seconds["from_geoarrow"],
            "functions.st_area.s": call.seconds["st_area"], "_rows": rows}


def _near_dup_ops(spark, man, call, work) -> dict:
    from geospark.operators.dedup import (jaccard_verify,
                                          lsh_candidate_pairs,
                                          minhash_pairs, minhash_signature,
                                          shingle_hashes)
    docs, _ = _force(spark.read.parquet(man["shards"][man["n_warm"]]["dir"]))
    sig, _ = _force(minhash_signature(docs))
    sh, _ = _force(shingle_hashes(docs))
    cand, n_cand = call("lsh_candidate_pairs",
                        lambda: _force(lsh_candidate_pairs(sig)))
    _, n_ver = call("jaccard_verify", lambda: _force(jaccard_verify(cand, sh)))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    minhash_pairs(docs).count()
    return {"operators.lsh_candidate_pairs.s":
                call.seconds["lsh_candidate_pairs"],
            "operators.lsh_candidate_pairs.pairs_out": n_cand,
            "operators.jaccard_verify.s": call.seconds["jaccard_verify"],
            "operators.jaccard_verify.yield": n_ver / max(n_cand, 1),
            "operators.minhash_pairs.persisted_after":
                jsc.getPersistentRDDs().size() - before}


OPS = {"flagship": _flagship_ops, "polygon_join": _polygon_join_ops,
       "geoarrow_codec": _codec_ops, "near_dup": _near_dup_ops}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _attach_event_log(spark, ev_dir: str):
    """Start an uncompressed event log on the running context."""
    os.makedirs(ev_dir, exist_ok=True)
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    conf = jsc.getConf().clone() \
        .set("spark.eventLog.compress", "false") \
        .set("spark.eventLog.rolling.enabled", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        f"trace-{os.getpid()}", jvm.scala.Option.empty(),
        jvm.java.net.URI(f"file://{os.path.abspath(ev_dir)}"), conf,
        jsc.hadoopConfiguration())
    listener.start()
    jsc.addSparkListener(listener)
    return listener


def _pause_event_log(spark, listener) -> None:
    """Deliver every pending event, then stop logging new ones."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(listener)


def run(args, man: dict, work: str) -> dict:
    wl = args.workload
    problems: list[str] = []
    metrics = kernel_metrics(wl, man)
    ev_dir = os.path.join(work, "eventlog")
    spark = common.build_session(work)
    try:
        env = common.environment(spark)
        r = Runner(spark, wl, man, work)
        r.warm()
        # four single passes, each on its own shard, in the order
        # untraced, traced, traced, untraced, so that the JVM's
        # continuing warm-up cancels out of trace.overhead_frac
        untraced = r.timed(0)
        listener = _attach_event_log(spark, ev_dir)
        call = Calls(spark)
        times = call("pass", lambda: r.timed(0) + r.timed(0))
        _pause_event_log(spark, listener)
        untraced += r.timed(0)
        spark.sparkContext._jsc.sc().addSparkListener(listener)
        rps_u, rps_t = r.rows_per_s(untraced), r.rows_per_s(times)
        r.finish()
        metrics.update(OPS[wl](spark, man, call, work))
        _pause_event_log(spark, listener)
        listener.stop()
    finally:
        stop_session(spark)
    ev = EventLog(glob.glob(os.path.join(ev_dir, "*"))[0])

    per_call = {}
    for group, wins in call.windows.items():
        t0, t1 = wins[0][0], wins[-1][1]
        per_call[group] = ev.call_metrics(group, t0, t1)
        if per_call[group]["reconcile_err"] > 0.05:
            problems.append(f"{group}: task executor time is "
                            f"{per_call[group]['reconcile_err']:.1%} off "
                            "the stage totals")
    for c in CALLS[wl]:
        for f in SPARK_FIELDS:
            metrics[f"spark.{c}.{f}"] = per_call[c]["spark"][f]
    metrics["spark.failed_tasks"] = ev.failed_tasks
    n_pass = max(len(times), 1)
    py = per_call["pass"]["python"]
    metrics["functions.python_rows"] = py["rows"] / n_pass
    metrics["functions.python_mb_sent"] = py["sent_mb"] / n_pass
    metrics["functions.python_mb_received"] = py["received_mb"] / n_pass
    metrics["trace.overhead_frac"] = 1.0 - rps_t / rps_u if rps_u else 0.0

    if "spatial_join" in per_call:
        sides = per_call["spatial_join"]["joins"].values()
        n_b = metrics["operators.spatial_join.broadcast_sides"] = \
            sum(s == "broadcast" for s in sides)
        n_s = metrics["operators.spatial_join.shuffled_sides"] = \
            sum(s == "shuffled" for s in sides)
        # the full-size polygon sides are made to straddle the cover
        # broadcast gate; the workload must run both strategies
        if wl == "polygon_join" and args.size == "full" \
                and (n_b, n_s) != (1, 1):
            problems.append(f"spatial_join ran {n_b} broadcast and {n_s} "
                            "shuffled cover joins, not 1 and 1")
    # kernel time for the work the Python nodes did, over the executor
    # time of the stages holding those nodes
    if wl == "polygon_join":
        sj = per_call["spatial_join"]["python"]
        kernel_s = (metrics.pop("_ray_casts")
                    / metrics["kernels.point_in_rings.pairs_per_s"]
                    + metrics.pop("_general_polygons")
                    / metrics["functions.cover_polygon_np.polys_per_s"])
        metrics["functions.kernel_share"] = kernel_s / sj["stage_run_s"] \
            if sj["stage_run_s"] else 0.0
    elif wl == "geoarrow_codec":
        rows = metrics.pop("_rows")
        per_row = sum(1.0 / metrics[f"kernels.{k}.rows_per_s"]
                      for k in ("parse_wkb", "geoms_to_geoarrow",
                                "geoarrow_to_geoms", "write_wkb"))
        stage_s = sum(per_call[c]["python"]["stage_run_s"]
                      for c in ("to_geoarrow", "from_geoarrow"))
        metrics["functions.kernel_share"] = rows * per_row / stage_s \
            if stage_s else 0.0

    out_path = os.path.join(common.BENCH_DIR, ".out",
                            f"trace-{wl}-s{args.seed}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"workload": wl, "seed": args.seed, "env": env,
                   "input_digest": man["input_digest"],
                   "rows_per_s": {"untraced": rps_u, "traced": rps_t},
                   "metrics": metrics, "calls": per_call,
                   "problems": problems}, f, indent=1, sort_keys=True)
    return {"env": env, "attempted": r.attempted, "failed": r.failed,
            "problems": problems + r.problems,
            "metrics": {n: (float(metrics.get(n, 0.0)), unit_of(n))
                        for n in PER_LAYER},
            "pass_s": times}
