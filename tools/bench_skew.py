"""Skew evidence under load (r3 VERDICT item 7): one res-8 cell holds
~30% of the points (hot-city shape); the shuffled cover join (AQE
skew-join) and the distributed-covering path must stay within ~1.5x of
the same join on uniform data of identical size.

Protocol: materialize a skewed and a uniform table of N rows once
(untimed), then time spatial_join over each through
  * shuffle : non-broadcast equi-join + AQE skew-join (the skew victim)
  * distributed : executor-covering path (broadcast cover)
min-of-3 per combination. Appends results to BENCH/SKEW.md and prints
one JSON line.
"""

from __future__ import annotations

import sys
sys.path.insert(0, "/root/repo")

import json
import os
import time

N = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "3000000"))
HOT_FRAC = 0.3


def build_session(cpus: int = 32):
    from pyspark.sql import SparkSession

    from geospark.conf import apply_tuned
    return (apply_tuned(SparkSession.builder.master(f"local[{cpus}]"))
            .appName("geospark-skew-bench")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "24g")
            .getOrCreate())


def materialize(spark, skewed: bool) -> str:
    """Deterministic synthetic points; skewed = HOT_FRAC of rows inside
    one res-8 cell (~0.7 x 1.4 deg at (10, 20)), rest world-uniform."""
    from pyspark.sql import functions as F
    tag = "skew" if skewed else "unif"
    path = f"/tmp/geospark_skewbench_{tag}_{N}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = spark.range(N)
    u1 = F.pmod(F.xxhash64("id", F.lit(1)).cast("double"),
                F.lit(1_000_000.0)) / 1_000_000.0
    u2 = F.pmod(F.xxhash64("id", F.lit(2)).cast("double"),
                F.lit(1_000_000.0)) / 1_000_000.0
    cold_lat = u1 * 170.0 - 85.0
    cold_lon = u2 * 356.0 - 178.0
    if skewed:
        hot = (F.col("id") % 1000) < int(HOT_FRAC * 1000)
        lat = F.when(hot, 10.05 + u1 * 0.4).otherwise(cold_lat)
        lon = F.when(hot, 20.05 + u2 * 0.6).otherwise(cold_lon)
    else:
        lat, lon = cold_lat, cold_lon
    (df.select(F.col("id").alias("point_id"),
               lat.alias("lat"), lon.alias("lon"))
       .repartition(64).write.mode("overwrite").parquet(path))
    return path


def zones(spark):
    """30 rectangle zones, one containing the hot cell, via WKT."""
    rows = []
    zid = 0
    for la in range(-60, 61, 30):   # 5 lat bands (0-20 holds the hot cell)
        for lo in range(-160, 161, 60):  # 6 lon bands
            x0, y0 = float(lo), float(la)
            wkt = (f"POLYGON (({x0} {y0}, {x0 + 30} {y0}, "
                   f"{x0 + 30} {y0 + 20}, {x0} {y0 + 20}, {x0} {y0}))")
            rows.append((zid, wkt))
            zid += 1
    from geospark.functions.geometry import st_geomfromtext
    from pyspark.sql import functions as F
    return (spark.createDataFrame(rows, "zone_id long, wkt string")
            .select("zone_id",
                    st_geomfromtext(F.col("wkt")).alias("geom_wkb")))


def timed(fn, reps: int = 3) -> float:
    fn()  # warmup
    best = None
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401
    from geospark.operators.joins import spatial_join
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    zdf = zones(spark)
    out = {"rows": N, "hot_frac": HOT_FRAC, "paths": {}}
    for tag, skewed in (("uniform", False), ("skewed", True)):
        src = materialize(spark, skewed)
        pts = spark.read.parquet(src)

        def shuffle_join():
            return spatial_join(pts, zdf, res=8, broadcast_cover=False) \
                .groupBy("zone_id").count().count()

        def distributed_join():
            return spatial_join(pts, zdf, res=8, distributed=True) \
                .groupBy("zone_id").count().count()

        out["paths"][tag] = {
            "shuffle": timed(shuffle_join),
            "distributed": timed(distributed_join),
        }
    u, s = out["paths"]["uniform"], out["paths"]["skewed"]
    out["skew_over_uniform"] = {
        k: round(s[k] / u[k], 3) for k in u}
    out["within_1_5x"] = {
        k: r <= 1.5 for k, r in out["skew_over_uniform"].items()}
    os.makedirs("/root/repo/BENCH", exist_ok=True)
    with open("/root/repo/BENCH/SKEW.md", "a") as f:
        f.write(f"\n## skew run rows={N} hot={HOT_FRAC}\n\n")
        f.write("| path | uniform s | skewed s | ratio |\n|---|---|---|---|\n")
        for k in u:
            f.write(f"| {k} | {u[k]} | {s[k]} | "
                    f"{out['skew_over_uniform'][k]} |\n")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
