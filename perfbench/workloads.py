"""The four workloads: what one pass does through geospark's public API,
and how its output is checked against the shard's reference.

A workload object is built once per run with the session and the input
manifest. ``register(k)`` opens shard k as DataFrames (no job runs),
``run_pass(h)`` does one pass and returns its output with every Spark
action forced, and ``check(out, ref)`` compares that output with the
reference computed by ``gen`` (outside the timed passes, by code other
than the code under test). ``final_checks()`` holds the once-per-run
checks: the flagship rerun over a committed root, and the fixture corpus
roundtrip for the codec.
"""

from __future__ import annotations

import os
import shutil
import uuid

from gen import CODEC_GROUPS, FLAGSHIP_RES, digest_rows


def _rows(pdf, cols):
    return zip(*[pdf[c].tolist() for c in cols])


class Workload:
    def __init__(self, spark, man: dict, work: str):
        self.spark = spark
        self.man = man
        self.work = work

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def final_checks(self, handles: list) -> list[str]:
        return []

    def close(self, h) -> None:
        """Release what a pass left on disk (outside the timing)."""


class Flagship(Workload):
    """pages -> extract_pages -> spatial_join(zones) -> tile_counts, every
    stage committed through Pipeline/CheckpointStore into a fresh root."""

    def __init__(self, spark, man, work):
        super().__init__(spark, man, work)
        from geospark.sources.synth import zones_df
        self.zones = zones_df(spark)

    def register(self, k: int):
        return {"pages": self.read(self.man["shards"][k]["dir"])}

    def _pipeline(self, pages, root: str):
        from geospark.operators.extract import extract_pages
        from geospark.operators.joins import spatial_join
        from geospark.operators.tiles import tile_counts
        from geospark.sources.checkpoint import CheckpointStore, Pipeline
        pipe = Pipeline(self.spark, CheckpointStore(root))
        geo = pipe.stage("geotags", lambda: extract_pages(pages))
        pip = pipe.stage("pip", lambda: spatial_join(geo, self.zones,
                                                     res=FLAGSHIP_RES))
        tiles = pipe.stage("tiles", lambda: tile_counts(
            pip, FLAGSHIP_RES, extra_keys=["zone_id", "lang"]))
        return tiles.toPandas(), pipe.report

    def run_pass(self, h):
        h["root"] = os.path.join(self.work, "ckpt", uuid.uuid4().hex)
        tiles, _ = self._pipeline(h["pages"], h["root"])
        return tiles

    def check(self, out, ref) -> bool:
        return digest_rows(_rows(out, ["cell", "zone_id", "lang",
                                       "n_docs"])) == ref["tiles"]

    def final_checks(self, handles):
        """A rerun over the last committed root skips every stage and
        returns the same tiles."""
        h = next((h for h in reversed(handles) if "root" in h), None)
        if h is None:
            return []
        tiles, report = self._pipeline(h["pages"], h["root"])
        bad = []
        if not all(r["skipped"] for r in report):
            bad.append("flagship rerun did not skip every stage")
        if not self.check(tiles, self.man["shards"][h["k"]]):
            bad.append("flagship rerun returned different tiles")
        return bad

    def close(self, h):
        shutil.rmtree(h.get("root", ""), ignore_errors=True)


class PolygonJoin(Workload):
    """Points joined (distributed tier) to a polygon side under the
    cover-broadcast gate and one over it, then the two sides joined
    to each other."""

    def register(self, k: int):
        d = self.man["shards"][k]["dir"]
        return {"points": self.read(os.path.join(d, "points")),
                "small": self.read(os.path.join(d, "small")),
                "large": self.read(os.path.join(d, "large"))}

    def run_pass(self, h):
        from geospark.operators.joins import (spatial_join,
                                              spatial_join_polygons)
        out = {}
        for side in ("small", "large"):
            out[side] = spatial_join(h["points"], h[side], distributed=True) \
                .select("pid", "zone_id").toPandas()
        left = h["small"].withColumnRenamed("zone_id", "l_id")
        right = h["large"].withColumnRenamed("zone_id", "r_id")
        out["poly_pairs"] = spatial_join_polygons(left, right).toPandas()
        return out

    def check(self, out, ref) -> bool:
        ok = all(digest_rows(_rows(out[s], ["pid", "zone_id"])) == ref[s][1]
                 for s in ("small", "large"))
        return ok and digest_rows(_rows(out["poly_pairs"], [
            "l_id", "r_id"])) == ref["poly_pairs"][1]


class GeoarrowCodec(Workload):
    """Per type-homogeneous group: WKB -> to_geoarrow (separate and
    interleaved) -> from_geoarrow, byte-compared with the input WKB;
    st_area/st_centroid on the polygon groups; infer_encoding."""

    def register(self, k: int):
        d = self.man["shards"][k]["dir"]
        return {"groups": {g: self.read(os.path.join(d, f"{g[0]}_{g[1]}"))
                           for g in CODEC_GROUPS}}

    @staticmethod
    def roundtrip(df, ext: str, dims: str):
        """df(wkb, ...) -> the same rows plus ``r_sep``/``r_int``: the WKB
        after a trip through the separate / interleaved layout."""
        from pyspark.sql import functions as F

        from geospark.functions.encoding import from_geoarrow, to_geoarrow
        src = df.withColumn("w_sep", F.col("wkb")) \
            .withColumn("w_int", F.col("wkb"))
        g = to_geoarrow(src, "w_sep", ext, dims, "separate", out_col="g_sep")
        g = to_geoarrow(g, "w_int", ext, dims, "interleaved",
                        out_col="g_int")
        b = from_geoarrow(g, "g_sep", ext, out_col="r_sep", dims=dims)
        return from_geoarrow(b, "g_int", ext, out_col="r_int", dims=dims)

    def roundtrip_mismatches(self, df, ext: str, dims: str) -> int:
        """Rows whose WKB does not come back byte-identical through both
        coordinate layouts."""
        from pyspark.sql import functions as F
        b = self.roundtrip(df, ext, dims)
        same = (F.col("r_sep").eqNullSafe(F.col("wkb"))
                & F.col("r_int").eqNullSafe(F.col("wkb")))
        return b.filter(~same).count()

    def run_pass(self, h):
        from pyspark.sql import functions as F

        from geospark.functions.encoding import infer_encoding
        from geospark.functions.geometry import st_area, st_centroid
        out = {}
        for (ext, dims), df in h["groups"].items():
            r = {"mismatch": self.roundtrip_mismatches(df, ext, dims),
                 "encoding": list(infer_encoding(df, "wkb"))}
            if ext in ("polygon", "multipolygon"):
                m = (df.filter(F.col("wkb").isNotNull())
                     .select(st_area("wkb").alias("a"),
                             st_centroid("wkb").alias("c"))
                     .agg(F.sum("a").alias("area"),
                          F.sum(F.when(F.col("a") > 0,
                                       F.col("c.x") * F.col("a")))
                          .alias("cx_w"),
                          F.sum(F.when(F.col("a") > 0,
                                       F.col("c.y") * F.col("a")))
                          .alias("cy_w"))
                     .collect()[0])
                r["measures"] = m.asDict()
            out[f"{ext}_{dims}"] = r
        return out

    def check(self, out, ref) -> bool:
        for name, r in out.items():
            ext, dims = name.split("_")
            if r["mismatch"] != 0:
                return False
            if r["encoding"] != [f"geoarrow.{ext}", dims]:
                return False
            want = ref["groups"][name]
            for key, got in r.get("measures", {}).items():
                tol = 1e-9 * max(1.0, abs(want[key]))
                if got is None or abs(got - want[key]) > tol:
                    return False
        return True

    def final_checks(self, handles):
        """The reference fixture corpus (FIXTURES.md) through both
        layouts must match 100%, by the reference's EqualsExact."""
        from geospark.kernels import corpus
        from geospark.kernels.geom import parse_wkt
        from geospark.kernels.wkb import parse_wkb, write_wkb
        groups: dict[int, list] = {}
        for _, t, wkt in corpus.SINGLE_FIXTURES:
            groups.setdefault(t, []).append(wkt)
        for _, t, wkts in corpus.BATCH_FIXTURES:
            groups.setdefault(t, []).extend(wkts)
        bad = []
        for t, wkts in sorted(groups.items()):
            ext, dims = corpus.wkb_type_to_ext_dims(t)
            geoms = [parse_wkt(w) if w else None for w in wkts]
            df = self.spark.createDataFrame(
                [(i, write_wkb(g)) for i, g in enumerate(geoms)],
                "i int, wkb binary")
            back = self.roundtrip(df, ext, dims).select(
                "i", "r_sep", "r_int").collect()
            n = 0
            for r in back:
                g = geoms[r["i"]]
                for w in (r["r_sep"], r["r_int"]):
                    b = parse_wkb(w) if w is not None else None
                    n += (b is not None) if g is None else \
                        not g.equals_exact(b)
            if n:
                bad.append(f"corpus {ext}/{dims}: {n} of {2 * len(geoms)} "
                           "roundtrips differ")
        return bad


class NearDup(Workload):
    """minhash_pairs over one document shard; every pass in the same
    session, so anything a pass leaves persisted stays visible."""

    def register(self, k: int):
        return {"docs": self.read(self.man["shards"][k]["dir"])}

    def run_pass(self, h):
        from geospark.operators.dedup import minhash_pairs
        return minhash_pairs(h["docs"]).toPandas()

    def check(self, out, ref) -> bool:
        return digest_rows(_rows(out, ["doc_a", "doc_b", "jaccard"])) \
            == ref["pairs"][1]


WORKLOADS = {"flagship": Flagship, "polygon_join": PolygonJoin,
             "geoarrow_codec": GeoarrowCodec, "near_dup": NearDup}
