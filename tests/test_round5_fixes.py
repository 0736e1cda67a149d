"""Round-5 fix tests (VERDICT r4 "Next round" + ADVICE r4 items).

Each test pins one r5 change:
  * reliable checkpointing plumbed through materialize()  (#6)
  * distinct_per_cell operator with an exact/HLL tier     (#5)
  * _parquet_rows recurses into hive-partitioned layouts  (ADVICE low)
  * knn_join checkpoint=True escape hatch                 (ADVICE low)
  * shared _doc_url_col/_doc_url_sql builder parity       (ADVICE low)
"""

from __future__ import annotations

import os

import pytest

SF = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.001")


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


class TestReliableCheckpoint:
    def test_reliable_flag_writes_checkpoint_files_and_matches(
            self, spark, tmp_path):
        from pyspark.sql import functions as F

        from geospark.operators.dedup import connected_components
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (9, 9)], ["doc_a", "doc_b"])
        base = _rows(connected_components(pairs))

        ck = str(tmp_path / "ckdir")
        spark.conf.set("spark.geospark.reliableCheckpoint", "true")
        spark.conf.set("spark.geospark.checkpointDir", ck)
        try:
            rel = _rows(connected_components(pairs))
            # a join through materialize() under the flag too
            from geospark.operators.joins import spatial_join
            from geospark.kernels.wkb import write_wkb
            from geospark.kernels.geom import parse_wkt
            poly = spark.createDataFrame(
                [(1, bytes(write_wkb(parse_wkt(
                    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))))],
                ["zone_id", "geom_wkb"])
            pts = spark.createDataFrame(
                [(1, 5.0, 5.0), (2, 20.0, 20.0)], ["pid", "lat", "lon"])
            semi = spatial_join(pts, poly, how="left_semi")
            assert [r["pid"] for r in semi.collect()] == [1]
        finally:
            spark.conf.set("spark.geospark.reliableCheckpoint", "false")
        assert rel == base
        # reliable checkpoints actually landed on disk
        found = [f for _r, _d, fs in os.walk(ck) for f in fs]
        assert found, "no checkpoint files written under the configured dir"

    def test_reliable_without_dir_raises(self, spark):
        from geospark.materialize import materialize
        df = spark.range(3)
        spark.conf.set("spark.geospark.reliableCheckpoint", "true")
        spark.conf.unset("spark.geospark.checkpointDir")
        try:
            if spark.sparkContext.getCheckpointDir() is None:
                with pytest.raises(ValueError, match="checkpoint dir"):
                    materialize(df)
            else:
                # a prior test already set the context dir; the helper
                # must then just use it
                assert materialize(df).count() == 3
        finally:
            spark.conf.set("spark.geospark.reliableCheckpoint", "false")

    def test_default_is_local_checkpoint(self, spark):
        from geospark.materialize import materialize, reliable_enabled
        assert not reliable_enabled(spark)
        out = materialize(spark.range(5))
        assert out.count() == 5


class TestDistinctPerCell:
    def _pts(self, spark, n=5000, n_users=700):
        from pyspark.sql import functions as F
        return (spark.range(n)
                .withColumn("user_id", F.col("id") % n_users)
                .withColumn("lat", (F.col("id") % 37).cast("double"))
                .withColumn("lon", (F.col("id") % 91).cast("double")))

    def test_exact_tier(self, spark):
        from geospark.operators.tiles import distinct_per_cell
        d = distinct_per_cell(self._pts(spark), 4, "user_id", exact=True)
        rows = d.collect()
        assert rows and all(r["n_distinct"] <= r["n_rows"] for r in rows)
        assert sum(r["n_rows"] for r in rows) == 5000

    def test_approx_within_rsd_and_same_schema(self, spark):
        from geospark.operators.tiles import distinct_per_cell
        pts = self._pts(spark)
        exact = {r["cell"]: r["n_distinct"] for r in distinct_per_cell(
            pts, 4, "user_id", exact=True).collect()}
        approx_df = distinct_per_cell(pts, 4, "user_id", exact=False,
                                      rsd=0.05)
        exact_df = distinct_per_cell(pts, 4, "user_id", exact=True)
        assert approx_df.schema == exact_df.schema
        for r in approx_df.collect():
            rel = abs(r["n_distinct"] - exact[r["cell"]]) / exact[r["cell"]]
            # HLL++ rsd=0.05 — allow 4 sigma
            assert rel <= 0.20, (r["cell"], r["n_distinct"], exact[r["cell"]])

    def test_plan_shapes(self, spark):
        from geospark.operators.tiles import distinct_per_cell
        pts = self._pts(spark)
        exact_plan = distinct_per_cell(
            pts, 4, "user_id", exact=True)._jdf.queryExecution() \
            .executedPlan().toString()
        approx_plan = distinct_per_cell(
            pts, 4, "user_id", exact=False)._jdf.queryExecution() \
            .executedPlan().toString()
        # exact: a real distinct aggregate — 4-phase with an extra
        # (cell, user_id)-keyed exchange for the map-side pair dedup;
        # approx: ONE ordinary partial agg over HLL sketches, single
        # cell-keyed exchange, no distinct machinery
        assert "count(distinct user_id" in exact_plan
        assert exact_plan.count("Exchange hashpartitioning") == 2
        assert "count(distinct" not in approx_plan
        assert "Expand" not in approx_plan
        assert "approx_count_distinct" in approx_plan
        assert approx_plan.count("Exchange hashpartitioning") == 1


class TestParquetRowsRecursive:
    def test_hive_partitioned_dataset(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from geospark.queries import _parquet_rows
        path = str(tmp_path / "part_ds")
        (spark.range(1000)
         .withColumn("p", F.col("id") % 4)
         .write.partitionBy("p").mode("overwrite").parquet(path))
        assert _parquet_rows(path) == 1000

    def test_flat_dir_and_single_file(self, spark, tmp_path):
        from geospark.queries import _parquet_rows
        path = str(tmp_path / "flat")
        spark.range(123).coalesce(1).write.mode("overwrite").parquet(path)
        assert _parquet_rows(path) == 123
        f = [os.path.join(path, x) for x in os.listdir(path)
             if x.endswith(".parquet")][0]
        assert _parquet_rows(f) == 123


class TestKnnCheckpointHatch:
    def test_checkpoint_true_freezes_single_iteration(self, spark):
        from geospark.operators.joins import knn_join
        q = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 10.0, 10.0)],
            ["query_id", "q_lat", "q_lon"])
        p = spark.createDataFrame(
            [(i, float(i % 30) - 15.0, float((i * 7) % 40) - 20.0)
             for i in range(300)], ["point_id", "lat", "lon"])
        out = knn_join(q, p, 3, checkpoint=True)
        # frozen plan: repeated actions agree AND the plan is a scan of
        # materialized rows (no candidate re-join on each action)
        a = _rows(out)
        b = _rows(out)
        assert a == b and len(a) == 6
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan


class TestPipTileCounts:
    """Aggregate-pushdown PIP rewrite (r5): output-identical to
    tile_counts(spatial_join(...)), including tile_res != cover res,
    empty/null polygons, and the no-cover edge case."""

    def _geo(self, spark, n=20000):
        from geospark.operators.extract import extract_pages
        from geospark.sources.synth import pages_df
        return extract_pages(pages_df(spark, n)).localCheckpoint(True)

    def test_parity_same_res(self, spark):
        from geospark.operators.joins import pip_tile_counts, spatial_join
        from geospark.operators.tiles import tile_counts
        from geospark.sources.synth import zones_df
        geo, z = self._geo(spark), zones_df(spark)
        old = tile_counts(spatial_join(geo, z, res=8), 8,
                          extra_keys=["zone_id", "lang"])
        new = pip_tile_counts(geo, z, res=8, extra_keys=["lang"])
        cols = ["zone_id", "cell", "lang", "n_docs"]
        assert _rows(old, cols) == _rows(new, cols)
        assert _rows(old, cols)  # non-vacuous

    def test_parity_coarser_tiles(self, spark):
        from geospark.operators.joins import pip_tile_counts, spatial_join
        from geospark.operators.tiles import tile_counts
        from geospark.sources.synth import zones_df
        geo, z = self._geo(spark), zones_df(spark)
        old = tile_counts(spatial_join(geo, z, res=8), 6,
                          extra_keys=["zone_id"])
        new = pip_tile_counts(geo, z, res=8, tile_res=6)
        cols = ["zone_id", "cell", "n_docs"]
        assert _rows(old, cols) == _rows(new, cols)

    def test_no_cover_returns_empty_with_schema(self, spark):
        from geospark.operators.joins import pip_tile_counts
        polys = spark.createDataFrame(
            [(1, None)], "zone_id long, geom_wkb binary")
        pts = spark.createDataFrame(
            [(1.0, 2.0)], "lat double, lon double")
        out = pip_tile_counts(pts, polys, res=6)
        assert out.count() == 0
        assert out.columns == ["zone_id", "cell", "n_docs"]

    def test_preagg_below_join_in_plan(self, spark):
        # the rewrite's point: a partial aggregate feeds the full-cell
        # join (the aggregate's exchange carries cells, not points)
        from geospark.operators.joins import pip_tile_counts
        from geospark.sources.synth import zones_df
        geo = self._geo(spark, 2000)
        plan = pip_tile_counts(geo, zones_df(spark), res=8,
                               extra_keys=["lang"]) \
            ._jdf.queryExecution().executedPlan().toString()
        # boundary refine stays an expression (no Python nodes)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestSharedDocUrlBuilder:
    def test_single_source_of_truth(self):
        import inspect

        import geospark.queries as qmod
        src = inspect.getsource(qmod)
        # the literal suffix strings exist exactly once (the step table)
        assert src.count("utm_source=feed") == 1
        assert src.count("#frag") == 1

    def test_col_and_sql_agree(self, spark):
        import duckdb
        from pyspark.sql import functions as F

        from geospark.queries import _doc_url_col, _doc_url_sql
        d = spark.read.parquet(f"{SF}/documents.parquet")
        spark_urls = sorted(
            r[0] for r in d.select(_doc_url_col().alias("u")).collect())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{SF}/documents.parquet')")
        duck_urls = sorted(
            r[0] for r in con.execute(
                f"SELECT {_doc_url_sql()} FROM documents").fetchall())
        assert spark_urls == duck_urls


class TestTunedConf:
    """The hugeMethodLimit=8000 session default (r5 scaling root cause).

    WSCG fused scan+join+(70-term unrolled ray-cast) into one generated
    method over HotSpot's 8000-bytecode JIT threshold: janino compiled
    it, HotSpot refused to JIT it, and the whole flagship join stage ran
    in the bytecode interpreter (measured 9.6s vs 1.4s on 10M rows).
    spark.sql.codegen.hugeMethodLimit=8000 makes Spark itself fall back
    to small per-operator methods for exactly those stages."""

    def test_tuned_conf_pins_huge_method_limit(self):
        from geospark.conf import TUNED_CONF
        assert TUNED_CONF["spark.sql.codegen.hugeMethodLimit"] == "8000"

    def test_session_fixture_carries_tuned_conf(self, spark):
        assert spark.conf.get(
            "spark.sql.codegen.hugeMethodLimit") == "8000"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def test_apply_tuned_lets_caller_override(self):
        from geospark.conf import TUNED_CONF, apply_tuned

        class FakeBuilder:
            def __init__(self):
                self.conf = {}

            def config(self, k, v):
                self.conf[k] = v
                return self

        b = apply_tuned(FakeBuilder())
        assert b.conf == TUNED_CONF
        b.config("spark.sql.codegen.hugeMethodLimit", "65535")
        assert b.conf["spark.sql.codegen.hugeMethodLimit"] == "65535"


class TestJvmRectCovering:
    """r5: distributed_polygon_cover's rectangle tier runs as pure JVM
    sequence/explode (the per-polygon Python covering was 9.7s of the
    sf1 pip_many_boxes join's 10.3s wall). The JVM tier must produce
    the SAME cell set as the Python covering and an equal-or-tighter
    _full flag (Python's center+edge test is conservative; the JVM
    rect test is exact)."""

    def _boxes(self, spark, n=40):
        from pyspark.sql import functions as F

        from geospark.functions.geometry import st_geomfromtext
        cx = ((F.col("id") * 13) % 300).cast("double") / 2.0 - 75.0
        cy = ((F.col("id") * 17) % 160).cast("double") / 2.0 - 40.0
        w = ((F.col("id") % 5) + 1).cast("double") * 0.8
        x0, y0 = (cx - w).cast("string"), (cy - w).cast("string")
        x1, y1 = (cx + w).cast("string"), (cy + w).cast("string")
        wkt = F.concat(F.lit("POLYGON (("), x0, F.lit(" "), y0,
                       F.lit(", "), x1, F.lit(" "), y0, F.lit(", "),
                       x1, F.lit(" "), y1, F.lit(", "), x0, F.lit(" "),
                       y1, F.lit(", "), x0, F.lit(" "), y0, F.lit("))"))
        return spark.range(n).select(
            F.col("id").alias("box_id"),
            st_geomfromtext(wkt).alias("geom_wkb"))

    def test_rect_cover_cells_match_python_covering(self, spark):
        from geospark.operators.joins import (distributed_polygon_cover,
                                              polygon_cover)
        boxes = self._boxes(spark)
        res = 7
        got = distributed_polygon_cover(boxes, res, "box_id").collect()
        assert all(r["_rect"] for r in got)
        jvm_cells = {(r["box_id"], r["_cell"]) for r in got}
        jvm_full = {(r["box_id"], r["_cell"]) for r in got if r["_full"]}
        polys = [(r["box_id"], bytes(r["geom_wkb"]))
                 for r in boxes.collect()]
        rows, _ = polygon_cover(polys, res)
        py_cells = {(p, c) for p, c, _f in rows}
        py_full = {(p, c) for p, c, f in rows if f}
        # the JVM closed-intersect ranges are a SUPERSET: they keep the
        # cells a rect touches only on a shared cell boundary, which
        # the Python covering drops (a latent shared-boundary miss —
        # see test_touching_rects_still_share_a_cell). The refine
        # discards the extras, so join output is identical.
        assert py_cells <= jvm_cells
        assert py_full <= jvm_full  # exact test is at least as tight
        # every extra cell is touching-only: never marked full
        assert not (jvm_full - py_cells)

    def test_non_rects_fall_to_general_tier(self, spark):
        from pyspark.sql import functions as F

        from geospark.functions.geometry import st_geomfromtext
        from geospark.operators.joins import distributed_polygon_cover
        rows = [
            (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),          # rect
            (2, "POLYGON ((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"),      # 6-pt
            (3, "POLYGON ((0 0, 4 1, 3 4, 0 0))"),                # tri
            (4, None),                                            # null
        ]
        df = spark.createDataFrame(rows, "pid long, wkt string") \
            .select("pid", st_geomfromtext("wkt").alias("geom_wkb"))
        cov = distributed_polygon_cover(df, 6, "pid").collect()
        by_pid = {}
        for r in cov:
            by_pid.setdefault(r["pid"], set()).add(r["_rect"])
        assert by_pid[1] == {True}
        assert by_pid[2] == {False}   # collinear 6-pt is not a rect
        assert by_pid[3] == {False}
        assert 4 not in by_pid        # null covers nothing
        # rect corners carried for the JVM refine tier
        rect_rows = [r for r in cov if r["pid"] == 1]
        assert all((r["_bx0"], r["_by0"], r["_bx1"], r["_by1"])
                   == (0.0, 0.0, 4.0, 4.0) for r in rect_rows)

    def test_touching_rects_still_share_a_cell(self, spark):
        """Closed-intersect ranges: a rect whose edge lies ON a cell
        boundary must still cover the touching cell, or poly_join
        misses shared-boundary pairs."""
        from geospark.operators.joins import spatial_join_polygons
        from pyspark.sql import functions as F

        from geospark.functions.geometry import st_geomfromtext
        res = 5  # cell width 360/32 = 11.25, height 180/32 = 5.625
        # left box ends exactly on the cell boundary x = 0.0
        l = spark.createDataFrame(
            [(1, "POLYGON ((-11.25 0, 0 0, 0 5.625, -11.25 5.625,"
                 " -11.25 0))")], "l_id long, wkt string") \
            .select("l_id", st_geomfromtext("wkt").alias("geom_wkb"))
        r = spark.createDataFrame(
            [(2, "POLYGON ((0 0, 11.25 0, 11.25 5.625, 0 5.625,"
                 " 0 0))")], "r_id long, wkt string") \
            .select("r_id", st_geomfromtext("wkt").alias("geom_wkb"))
        got = spatial_join_polygons(l, r, res=res).collect()
        assert {(x["l_id"], x["r_id"]) for x in got} == {(1, 2)}


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        from geospark.operators.textstats import repetition_stats
        rows = [
            # "a b a b a": words 5, distinct 2; trigrams: "a b a",
            # "b a b", "a b a" -> 3 total, 2 distinct
            (1, "a b a b a"),
            # all distinct, one trigram
            (2, "x y z"),
            # too short for trigrams
            (3, "p q"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict()
               for r in repetition_stats(df).collect()}
        r1 = got[1]
        assert (r1["n_words"], r1["n_distinct_words"]) == (5, 2)
        assert r1["dup_word_frac"] == (5 - 2) / 5
        assert r1["top_word_frac"] == 3 / 5
        assert (r1["n_trigrams"], r1["n_distinct_trigrams"]) == (3, 2)
        assert r1["dup_trigram_frac"] == (3 - 2) / 3
        r2 = got[2]
        assert (r2["n_words"], r2["n_distinct_words"]) == (3, 3)
        assert r2["dup_word_frac"] == 0.0
        assert (r2["n_trigrams"], r2["n_distinct_trigrams"]) == (1, 1)
        r3 = got[3]
        assert (r3["n_trigrams"], r3["dup_trigram_frac"]) == (0, 0.0)

    def test_tokenizer_matches_top_terms(self, spark):
        """Same lowercase [a-z0-9]+ stream as top_terms: punctuation
        and case don't create distinct tokens."""
        from geospark.operators.textstats import repetition_stats
        df = spark.createDataFrame(
            [(1, "Foo, foo! FOO bar")], "doc_id long, text string")
        r = repetition_stats(df).collect()[0]
        assert (r["n_words"], r["n_distinct_words"]) == (4, 2)
        assert r["top_word_frac"] == 3 / 4


class TestSemanticDedup:
    def _df(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")

    def test_greedy_keep_lowest_within_cluster(self, spark):
        from geospark.operators.similarity import semantic_dedup
        d = 4
        e1 = [1.0, 0.0, 0.0, 0.0]
        e2 = [0.0, 1.0, 0.0, 0.0]
        near1 = [0.999, 0.01, 0.0, 0.0]     # ~cos 1 with e1
        far = [0.7, 0.7, 0.0, 0.0]          # between clusters
        df = self._df(spark, [e1, e2, near1, far])
        got = semantic_dedup(df, n_clusters=2, threshold=0.95, dim=d)
        kept = {(r["vec_id"], r["cluster"]) for r in got.collect()}
        # id2 (near1) is dropped against id0; id3 assigns to cluster 0
        # (tie on rounded cos broken by lower cid) but is not near any
        assert kept == {(0, 0), (1, 1), (3, 0)}

    def test_survivor_of_dropped_chain(self, spark):
        """Greedy (not transitive): a row is dropped if ANY lower-id
        neighbor is close, even one that was itself dropped."""
        from geospark.operators.similarity import semantic_dedup
        base = [1.0, 0.0, 0.0, 0.0]
        df = self._df(spark, [base, base, base])
        got = semantic_dedup(df, n_clusters=1, threshold=0.95, dim=4)
        assert {r["vec_id"] for r in got.collect()} == {0}

    def test_spark_matches_duckdb_on_testdata(self, spark):
        import duckdb

        from geospark.operators.similarity import (semantic_dedup,
                                                   semantic_dedup_sql)
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        got = sorted((r["vec_id"], r["cluster"]) for r in
                     semantic_dedup(e, n_clusters=8, threshold=0.3)
                     .collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{SF}/embeddings.parquet')")
        want = sorted((int(a), int(b)) for a, b in con.execute(
            semantic_dedup_sql(8, 0.3)).fetchall())
        assert got == want and len(got) > 0


class TestAllRectCoverPlanIsPythonFree:
    def test_distributed_join_all_rect_has_no_python_nodes(self, spark):
        """r5.2: with the detection pass frozen at build time and the
        rect covering a pure JVM explode, the EXECUTED plan of a
        distributed PIP join against an all-rect side contains zero
        Python nodes (no MapInPandas covering, no ArrowEvalPython
        detect) — scan -> explode -> join fuses into codegen."""
        import re

        from pyspark.sql import functions as F

        from geospark.functions.geometry import st_geomfromtext
        from geospark.operators.joins import spatial_join
        cx = ((F.col("id") * 7) % 200).cast("double") - 100.0
        cy = ((F.col("id") * 11) % 120).cast("double") - 60.0
        x0, y0 = (cx - 2.0).cast("string"), (cy - 2.0).cast("string")
        x1, y1 = (cx + 2.0).cast("string"), (cy + 2.0).cast("string")
        wkt = F.concat(
            F.lit("POLYGON (("), x0, F.lit(" "), y0, F.lit(", "),
            x1, F.lit(" "), y0, F.lit(", "), x1, F.lit(" "), y1,
            F.lit(", "), x0, F.lit(" "), y1, F.lit(", "), x0,
            F.lit(" "), y0, F.lit("))"))
        boxes = spark.range(100).select(
            F.col("id").alias("box_id"),
            st_geomfromtext(wkt).alias("geom_wkb"))
        pts = spark.range(2000).select(
            (F.rand(3) * 160 - 80).alias("lat"),
            (F.rand(5) * 320 - 160).alias("lon"))
        out = spatial_join(pts, boxes, res=6, poly_id_col="box_id",
                           distributed=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not re.search("Python|MapInPandas|ArrowEval", plan)
        assert out.count() > 0


class TestRedactPii:
    def test_hand_computed(self, spark):
        from geospark.operators.textstats import redact_pii
        rows = [
            (1, "mail me at jo.doe+x@ex-ample.org or call +141555501234"),
            (2, "server 192.168.0.1 and 10.0.0.255 no mail"),
            (3, "clean text only"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
        assert got[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE>"
        assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)
        assert got[2]["clean_text"] == "server <IP> and <IP> no mail"
        assert got[2]["n_ips"] == 2
        assert got[3]["clean_text"] == "clean text only"
        assert (got[3]["n_emails"], got[3]["n_ips"],
                got[3]["n_phones"]) == (0, 0, 0)

    def test_spark_matches_duckdb_planted(self, spark):
        import duckdb

        from geospark.queries import oracle_sql, q_redact_pii
        got = sorted(tuple(r) for r in
                     q_redact_pii(spark, SF).collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{SF}/documents.parquet')")
        want = sorted(tuple(r) for r in
                      con.execute(oracle_sql()["redact_pii"]).fetchall())
        assert len(got) > 0 and got == want
        # the plant is non-vacuous: every kind occurs somewhere
        assert any(r[2] > 0 for r in got)   # n_emails
        assert any(r[3] > 0 for r in got)   # n_ips
        assert any(r[4] > 0 for r in got)   # n_phones


class TestDecontaminate:
    def test_planted_overlap_and_short_doc_guard(self, spark):
        from geospark.operators.dedup import decontaminate
        rows = [
            (0, "alpha beta gamma delta epsilon zeta"),   # bench
            (2, "alpha beta gamma delta is contaminated"),
            (3, "short doc"),                             # < n words: no crash
            (4, ""),                                      # empty: no crash
            (5, "epsilon zeta only two shared words"),    # 2-word run: clean
            (6, "Alpha, BETA gamma: delta!"),             # case/punct folded
            (7, "fresh words entirely unrelated here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["n_hits"] for r in decontaminate(
            df.filter("doc_id % 41 != 0"),
            df.filter("doc_id % 41 = 0"), n=4).collect()}
        # docs 2 and 6 each contain exactly one distinct bench 4-gram;
        # 3/4/5/7 are clean and therefore absent
        assert got == {2: 1, 6: 1}

    def test_distinct_grams_counted_once(self, spark):
        from geospark.operators.dedup import decontaminate
        rows = [(0, "a b c d"), (1, "a b c d and a b c d again a b c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = decontaminate(df.filter("doc_id = 1"),
                            df.filter("doc_id = 0")).collect()
        assert [(r["doc_id"], r["n_hits"]) for r in got] == [(1, 1)]

    def test_spark_matches_duckdb_testdata(self, spark):
        import duckdb

        from geospark.queries import oracle_sql, q_decontaminate
        got = sorted(tuple(r) for r in
                     q_decontaminate(spark, SF).collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{SF}/documents.parquet')")
        want = sorted(tuple(r) for r in
                      con.execute(oracle_sql()["decontaminate"]).fetchall())
        assert len(got) > 0 and got == want

    def test_bench_side_is_broadcast(self, spark):
        from geospark.operators.dedup import decontaminate
        rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}")
                for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = decontaminate(df.filter("doc_id % 41 != 0"),
                            df.filter("doc_id % 41 = 0"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestDupSpans:
    def test_hand_computed_spans(self, spark):
        from geospark.operators.dedup import dup_spans
        rows = [
            (1, "zero one two three four five six seven COMMON A B C D "
                "E F G H tail words here"),
            (2, "prefix COMMON a b c d e f g h and more unrelated talk"),
            (3, "too short"),
            (4, ""),
            (5, "x x x x x x x x x x x x"),  # within-doc repetition
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in dup_spans(df, k=8).collect())
        # docs 1/2 share the 9-word run "common a..h" (two consecutive
        # dup 8-shingle starts merge -> span_words 9); doc 5's five
        # identical shingles merge into one 12-word span
        assert got == [(1, 9, 9), (2, 2, 9), (5, 1, 12)]

    def test_spark_matches_duckdb_testdata(self, spark):
        import duckdb

        from geospark.queries import oracle_sql, q_dup_spans
        got = sorted(tuple(r) for r in q_dup_spans(spark, SF).collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{SF}/documents.parquet')")
        want = sorted(tuple(r) for r in
                      con.execute(oracle_sql()["dup_spans"]).fetchall())
        assert len(got) > 0 and got == want

    def test_dup_set_join_not_broadcast(self, spark):
        # the repeated-shingle set grows with the corpus: the join
        # back must stay a shuffled hash join, never a broadcast
        from geospark.operators.dedup import dup_spans
        rows = [(i, f"a b c d e f g h tail{i}") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dup_spans(df, k=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert out.count() == 50


class TestPackSequences:
    def test_matches_duckdb_and_partition_invariant(self, spark):
        import duckdb
        import pandas as pd

        from geospark.operators.pack import (pack_sequences,
                                             pack_sequences_sql)
        rows = [(i, " ".join(f"w{j}" for j in range(1 + (i * 7) % 23)))
                for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in
                     pack_sequences(df, budget=16).collect())
        con = duckdb.connect()
        con.register("documents",
                     pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = sorted(tuple(r) for r in
                      con.sql(pack_sequences_sql(16)).fetchall())
        assert got == want
        for n in (1, 7, 32):
            again = sorted(tuple(r) for r in pack_sequences(
                df.repartition(n), budget=16).collect())
            assert again == got, n

    def test_no_single_partition_window(self, spark):
        # the whole point: the prefix sum must never plan the naive
        # ORDER BY-only window (Exchange SinglePartition)
        from geospark.operators.pack import pack_sequences
        rows = [(i, "a b c") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        plan = (pack_sequences(df, budget=8)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SinglePartition" not in plan
        assert "Window" in plan

    def test_bins_pack_exactly(self, spark):
        from geospark.operators.pack import pack_sequences
        # 5 docs x 4 tokens, budget 8 -> starts 0,4,8,12,16
        rows = [(i, "t1 t2 t3 t4") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["start_tok"], r["bin_id"],
                             r["offset_in_bin"])
               for r in pack_sequences(df, budget=8).collect()}
        assert got == {0: (0, 0, 0), 1: (4, 0, 4), 2: (8, 1, 0),
                       3: (12, 1, 4), 4: (16, 2, 0)}


class TestQannTopk:
    def test_matches_duckdb_and_full_recall_on_testdata(self, spark):
        import duckdb

        from geospark.queries import oracle_sql, q_qann_topk, q_ann_topk
        got = [(r["vec_id"], r["sim"])
               for r in q_qann_topk(spark, SF).collect()]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{SF}/embeddings.parquet')")
        want = [(int(a), float(b)) for a, b in
                con.execute(oracle_sql()["qann_topk"]).fetchall()]
        assert got == want
        exact = [(r["vec_id"], r["sim"])
                 for r in q_ann_topk(spark, SF).collect()]
        # 4x-candidate rescore recovers the exact top-10 here
        assert got == exact

    def test_candidate_scores_are_integers(self, spark):
        # the quantized candidate ordering must be integer arithmetic
        # (engine-exact); floats appear only in the rescore
        from geospark.operators.similarity import _int_dot_expr
        e = _int_dot_expr("v", "_s", [0.5, -0.25])
        assert "AS BIGINT" in e and "floor" in e
        assert "ROUND" not in e.upper().replace("FLOOR", "")

    def test_quantization_rounding_is_floor_half_up(self, spark):
        from pyspark.sql import functions as F

        from geospark.operators.similarity import _int_dot_expr
        # scale 1.0, query [1.0]: code(0.996..) = floor(126.5+.5) = 127
        df = spark.createDataFrame(
            [([0.9960629921259843],)], "v array<double>")
        out = (df.withColumn("_s", F.lit(1.0))
               .select(F.expr(_int_dot_expr("v", "_s", [1.0]))
                       .alias("i")).collect())
        assert out[0]["i"] == 127 * 127


class TestAsofJoin:
    def _frames(self, spark):
        # left probes at t=10, 20, 30; right builds at t=5, 20, 20, 25
        from datetime import datetime as dt
        L = spark.createDataFrame(
            [(1, 1, dt(2024, 1, 1, 0, 0, 10)),
             (2, 1, dt(2024, 1, 1, 0, 0, 20)),
             (3, 1, dt(2024, 1, 1, 0, 0, 30)),
             (4, 2, dt(2024, 1, 1, 0, 0, 1))],
            "lid long, user_id long, ts timestamp")
        R = spark.createDataFrame(
            [(100, 1, dt(2024, 1, 1, 0, 0, 5), 1.0),
             (101, 1, dt(2024, 1, 1, 0, 0, 20), 2.0),
             (102, 1, dt(2024, 1, 1, 0, 0, 20), 3.0),
             (103, 1, dt(2024, 1, 1, 0, 0, 25), 4.0)],
            "rid long, user_id long, ts timestamp, v double")
        return L, R

    def test_backward_match_tie_break_and_inner(self, spark):
        from geospark.operators.events import asof_join
        L, R = self._frames(spark)
        got = _rows(asof_join(L, R, on="user_id", tie_col="rid",
                              payload={"rid": "m_rid", "v": "m_v"})
                    .select("lid", "m_rid", "m_v", "gap_us"))
        # t=20 probe sees BOTH t=20 builds (at-or-before); greatest
        # rid (102) wins the tie; user 2 has no build -> dropped
        assert got == [(1, 100, 1.0, 5_000_000),
                       (2, 102, 3.0, 0),
                       (3, 103, 4.0, 5_000_000)]

    def test_left_outer_and_tolerance(self, spark):
        from geospark.operators.events import asof_join
        L, R = self._frames(spark)
        got = _rows(asof_join(L, R, on="user_id", tie_col="rid",
                              payload={"rid": "m_rid"},
                              tolerance_us=4_000_000, how="left")
                    .select("lid", "m_rid", "gap_us"))
        # gap 5s > 4s tolerance -> NULLed under how='left'
        assert got == [(1, None, None), (2, 102, 0),
                       (3, None, None), (4, None, None)]

    def test_plan_has_no_join_node(self, spark):
        from geospark.operators.events import asof_join
        L, R = self._frames(spark)
        out = asof_join(L, R, on="user_id", tie_col="rid",
                        payload={"v": "m_v"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan

    def test_matches_duckdb_native_asof_on_testdata(self, spark):
        import duckdb

        from geospark.queries import oracle_sql, q_asof_events
        got = _rows(q_asof_events(spark, SF))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{SF}/events.parquet')")
        cols = ["event_id", "user_id", "value", "m_event_id",
                "m_value", "gap_us"]
        want = sorted(tuple(r) for r in
                      con.execute(oracle_sql()["asof_events"])
                      .fetchall())
        assert [tuple(r) for r in got] == want


class TestTrajectoryStats:
    def test_hand_computed_legs_and_single_event_user(self, spark):
        from datetime import datetime as dt

        from geospark.operators.events import trajectory_stats
        # user 1: equator walk 0->1->3 degrees lon (1 deg equator
        # ~= 111195 m); user 2: a single event (no legs)
        df = spark.createDataFrame(
            [(1, 1, dt(2024, 1, 1, 0, 0, 1), 0.0, 0.0),
             (2, 1, dt(2024, 1, 1, 0, 0, 2), 0.0, 1.0),
             (3, 1, dt(2024, 1, 1, 0, 0, 3), 0.0, 3.0),
             (4, 2, dt(2024, 1, 1, 0, 0, 1), 10.0, 10.0)],
            "event_id long, user_id long, ts timestamp, "
            "lat double, lon double")
        got = {r["user_id"]: (r["n_events"], r["n_legs"], r["total_m"],
                              r["max_leg_m"])
               for r in trajectory_stats(df).collect()}
        one_deg = 111195  # round(2*6371008.8*asin(sin(rad(0.5))))
        assert got[1] == (3, 2, 3 * one_deg, 2 * one_deg)
        assert got[2] == (1, 0, 0, None)

    def test_out_of_order_input_sorted_by_ts(self, spark):
        from datetime import datetime as dt

        from geospark.operators.events import trajectory_stats
        rows = [(2, 1, dt(2024, 1, 1, 0, 0, 2), 0.0, 1.0),
                (1, 1, dt(2024, 1, 1, 0, 0, 1), 0.0, 0.0),
                (3, 1, dt(2024, 1, 1, 0, 0, 3), 0.0, 0.0)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "lat double, lon double")
        r = trajectory_stats(df).collect()[0]
        # 0 -> 1 -> 0 degrees: two equal legs, not one 0-length pair
        assert (r["n_legs"], r["total_m"]) == (2, 2 * 111195)

    def test_single_exchange_plan(self, spark):
        from geospark.queries import q_trajectories
        plan = (q_trajectories(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan and "SinglePartition" not in plan


class TestTopPairs:
    def test_hand_computed_pairs_and_edge_docs(self, spark):
        from geospark.operators.textstats import top_pairs
        df = spark.createDataFrame(
            [("the cat sat the cat ran",),  # 'the cat' x2
             ("cat",),                      # single token: no pairs
             ("",),                         # empty: no pairs
             ("THE cat!",)],                # lowercased, punct split
            "text string")
        got = [(r["pair"], r["cnt"])
               for r in top_pairs(df, 3).collect()]
        assert got == [("the cat", 3), ("cat ran", 1), ("cat sat", 1)]

    def test_plan_no_single_partition_sort(self, spark):
        from geospark.queries import q_top_pairs
        plan = (q_top_pairs(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in plan
        assert "SinglePartition" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestBudgetSample:
    def test_grouped_prefix_sum_partition_invariance(self, spark):
        from geospark.operators.pack import prefix_sum
        rows = [(i, "ab"[i % 2], (i * 7) % 13 + 1) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, g string, n long")
        # per-group exclusive cumsum in id order, computed locally
        want = {}
        run = {"a": 0, "b": 0}
        for i, g, n in sorted(rows):
            want[i] = run[g]
            run[g] += n
        for p in (1, 7, 32):
            got = {r["id"]: r["prefix"]
                   for r in prefix_sum(df, "n", "id", group_cols=["g"],
                                       num_partitions=p).collect()}
            assert got == want, f"partitions={p}"

    def test_budget_boundary_and_absent_group(self, spark):
        from geospark.operators.pack import budget_sample
        # texts of 2 tokens each; md5 priority fixes the visit order
        df = spark.createDataFrame(
            [(i, "en" if i < 6 else "xx", "tok tok") for i in range(9)],
            "doc_id long, lang string, text string")
        # en budget 5: 2-token docs fill 2,4 -> the 3rd doc would hit
        # 6 > 5 and is dropped whole (no truncation); xx -> default 0
        out = budget_sample(df, {"en": 5}).collect()
        assert {r["lang"] for r in out} == {"en"}
        assert len(out) == 2
        assert sorted(r["cum_tokens"] for r in out) == [2, 4]
        # exact fill is kept (<=)
        out6 = budget_sample(df, {"en": 6}).collect()
        assert sorted(r["cum_tokens"] for r in out6) == [2, 4, 6]

    def test_no_single_partition_exchange(self, spark):
        from geospark.queries import q_budget_sample
        plan = (q_budget_sample(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SinglePartition" not in plan


class TestInvertedIndex:
    def test_postings_sorted_capped_distinct(self, spark):
        from geospark.operators.textstats import inverted_index
        df = spark.createDataFrame(
            [(3, "zz aa zz"), (1, "aa bb"), (2, "aa! BB")],
            "doc_id long, text string")
        got = {r["term"]: (r["df"], r["postings"])
               for r in inverted_index(df, min_df=1,
                                       max_postings=2).collect()}
        # 'aa' in all three docs: df counts all, postings cap at 2,
        # ascending; 'zz' twice in doc 3 counts ONCE
        assert got["aa"] == (3, "1,2")
        assert got["bb"] == (2, "1,2")
        assert got["zz"] == (1, "3")

    def test_min_df_filter(self, spark):
        from geospark.operators.textstats import inverted_index
        df = spark.createDataFrame(
            [(1, "rare common"), (2, "common")],
            "doc_id long, text string")
        got = {r["term"] for r in inverted_index(df, min_df=2)
               .collect()}
        assert got == {"common"}


class TestGroupQuantiles:
    def test_integer_rank_select(self, spark):
        from geospark.operators.textstats import group_quantiles
        # group a: values 1..10 -> integer ranks (p*n + 99) div 100:
        # p50 -> 5, p90 -> 9, p99 -> 10 (never an ieee 0.9*n in
        # sight); group b: single value repeats at every p
        rows = [(i, "a", i) for i in range(1, 11)] + [(99, "b", 7)]
        df = spark.createDataFrame(rows, "doc_id long, g string, v long")
        got = {r["g"]: (r["n"], r["q50"], r["q90"], r["q99"])
               for r in group_quantiles(df, "v", "g",
                                        tie_col="doc_id").collect()}
        assert got["a"] == (10, 5, 9, 10)
        assert got["b"] == (1, 7, 7, 7)

    def test_single_exchange_plan(self, spark):
        from geospark.queries import q_len_quantiles
        plan = (q_len_quantiles(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan


class TestRetention:
    def test_hand_matrix(self, spark):
        import datetime as dt

        from geospark.operators.events import retention_cohorts
        base = dt.datetime(2024, 1, 1)
        rows = [(1, base), (1, base + dt.timedelta(days=1, hours=5)),
                (1, base + dt.timedelta(days=3)),
                (2, base + dt.timedelta(days=1)),
                (2, base + dt.timedelta(days=1, minutes=9)),
                (3, base + dt.timedelta(days=3, hours=23))]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {(r["cohort_day"], r["day_offset"]): r["n_users"]
               for r in retention_cohorts(df).collect()}
        # user 2's two same-day events collapse (set) into cohort 1
        # offset 0; 23h59 stays in day 3 (integer div, not
        # float-divide-then-truncate)
        assert got == {(0, 0): 1, (0, 1): 1, (0, 3): 1,
                       (1, 0): 1, (3, 0): 1}

    def test_single_user_exchange_no_join(self, spark):
        from geospark.queries import q_retention
        plan = (q_retention(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == 2
        assert "SinglePartition" not in plan
        assert "Join" not in plan


class TestFocalSum:
    def test_scatter_equals_bruteforce_gather(self, spark):
        from geospark.functions.cells import _RES_SHIFT
        from geospark.operators.tiles import focal_sum
        res, n = 2, 4
        cells = {(0, 0): 3, (0, 3): 5, (1, 1): 7, (3, 2): 11,
                 (2, 0): 13}

        def cid(y, x):
            return (res << _RES_SHIFT) + (y << res) + x

        df = spark.createDataFrame(
            [(cid(y, x), c) for (y, x), c in cells.items()],
            "cell long, n_pts long")
        got = {r["cell"]: (r["n_pts"], r["focal_n_pts"])
               for r in focal_sum(df, res, count_col="n_pts").collect()}
        exp = {}
        for (y, x), own in cells.items():
            s = 0
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    ny, nx = y + dy, (x + dx) % n
                    if 0 <= ny < n:
                        s += cells.get((ny, nx), 0)
            exp[cid(y, x)] = (own, s)
        # (0,0) and (0,3) see each other through the x wrap; y edges
        # clamp (row 0 has no row -1 contribution)
        assert got == exp

    def test_no_cartesian_no_single_partition(self, spark):
        from geospark.queries import q_hotspot_cells
        plan = (q_hotspot_cells(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan


class TestSplitLeakage:
    def test_split_deterministic_and_calibrated(self, spark):
        from geospark.operators.dedup import split_assign
        import pyspark.sql.functions as F
        df = spark.range(1, 2001).select(
            F.col("id").alias("doc_id"),
            split_assign("doc_id").alias("split"))
        counts = {r["split"]: r["n"] for r in
                  df.groupBy("split").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
        assert set(counts) == {"train", "val"}
        # md5 is uniform: 90/10 split lands within a loose band
        assert 0.85 <= counts["train"] / 2000 <= 0.95
        # deterministic across runs
        assert df.collect() == df.collect()

    def test_cross_split_rows_only(self, spark):
        from geospark.queries import q_split_leakage
        rows = q_split_leakage(spark, SF).collect()
        assert len(rows) > 0
        assert all(r["split_a"] != r["split_b"] for r in rows)


class TestGroupHistogram:
    def test_integer_bin_edges(self, spark):
        from geospark.operators.textstats import group_histogram
        # 63 -> bin 0, 64 -> bin 64 (exact edge), 129 -> bin 128
        df = spark.createDataFrame(
            [("a", 0), ("a", 63), ("a", 64), ("a", 129), ("b", 64)],
            "g string, v long")
        got = {(r["g"], r["bin_lo"]): r["n"] for r in
               group_histogram(df, "v", "g", width=64).collect()}
        assert got == {("a", 0): 2, ("a", 64): 1, ("a", 128): 1,
                       ("b", 64): 1}

    def test_map_side_single_exchange(self, spark):
        from geospark.queries import q_len_histogram
        plan = (q_len_histogram(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan


class TestRingValid:
    def _stats(self, spark, xs, ys):
        from geospark.operators.validity import ring_stats
        df = spark.createDataFrame(
            [(1, xs, ys)], "rid long, xs array<long>, ys array<long>")
        return ring_stats(df, "xs", "ys", len(xs),
                          id_cols=["rid"]).collect()[0]

    def test_square_simple(self, spark):
        r = self._stats(spark, [0, 10, 10, 0], [0, 0, 10, 10])
        assert (r["n_crossings"], r["is_simple"]) == (0, True)

    def test_bowtie_one_crossing(self, spark):
        # 0-1 and 2-3 cross; the wrap-adjacent (0,3) pair is excluded
        r = self._stats(spark, [0, 10, 10, 0], [0, 10, 0, 10])
        assert (r["n_crossings"], r["is_simple"]) == (1, False)

    def test_spike_touch_detected(self, spark):
        # vertex 3 = (5,0) sits ON segment 0 ((0,0)-(10,0)): improper
        # intersection via the collinear/on-segment branch
        r = self._stats(spark, [0, 10, 10, 5, 0], [0, 0, 10, 0, 10])
        assert r["n_crossings"] > 0 and not r["is_simple"]

    def test_convex_hexagon_simple(self, spark):
        r = self._stats(spark, [10, 5, -5, -10, -5, 5],
                        [0, 9, 9, 0, -9, -9])
        assert (r["n_crossings"], r["is_simple"]) == (0, True)

    def test_organic_mix_and_map_only_plan(self, spark):
        from pyspark.sql import functions as F

        from geospark.queries import q_ring_valid
        df = q_ring_valid(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # a pure scan: map-only
        counts = {r["is_simple"]: r["n"] for r in
                  df.groupBy("is_simple")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        # simplicity emerges from the hash geometry, not a planted
        # flag: both classes must be present
        assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0


class TestIdwInterp:
    def test_hand_weights(self, spark):
        from geospark.operators.interp import (D_SCALE, W_SCALE,
                                               idw_estimate)
        # two neighbors: sqdist 0 (w = W_SCALE) and sqdist 1.0
        # (d_int = 2^20, w = W_SCALE div (2^20+1))
        df = spark.createDataFrame(
            [(1, 100, 0.0), (1, 200, 1.0)],
            "query_id long, v_int long, sqdist double")
        r = idw_estimate(df).collect()[0]
        w0, w1 = W_SCALE, W_SCALE // (D_SCALE + 1)
        assert r["w_sum"] == w0 + w1
        assert r["idw_v"] == (w0 * 100 + w1 * 200) // (w0 + w1)

    def test_zero_distance_dominates(self, spark):
        from geospark.operators.interp import idw_estimate
        df = spark.createDataFrame(
            [(1, 500, 0.0), (1, 10_000, 900.0), (1, 20_000, 900.0)],
            "query_id long, v_int long, sqdist double")
        r = idw_estimate(df).collect()[0]
        # the coincident point carries ~1e9/1e6 ~ 1000x the weight
        assert abs(r["idw_v"] - 500) < 50

    def test_map_side_combinable_single_exchange(self, spark):
        from geospark.operators.interp import idw_estimate
        df = spark.createDataFrame(
            [(1, 100, 0.5)], "query_id long, v_int long, sqdist double")
        plan = (idw_estimate(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "partial_sum" in plan.lower() or "Partial" in plan
        assert "SinglePartition" not in plan


class TestRingOrient:
    def test_unit_square_both_windings(self, spark):
        from geospark.operators.validity import ring_area
        df = spark.createDataFrame(
            [(1, [0, 1, 1, 0], [0, 0, 1, 1]),    # CCW
             (2, [0, 0, 1, 1], [0, 1, 1, 0])],   # CW
            "rid long, xs array<long>, ys array<long>")
        got = {r["rid"]: (r["area2"], r["is_ccw"])
               for r in ring_area(df, "xs", "ys", 4,
                                  id_cols=["rid"]).collect()}
        assert got == {1: (2, True), 2: (-2, False)}

    def test_organic_mix_map_only(self, spark):
        from pyspark.sql import functions as F

        from geospark.queries import q_ring_orient
        df = q_ring_orient(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        counts = {r["is_ccw"]: r["n"] for r in
                  df.groupBy("is_ccw")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0


class TestChunkDocs:
    def test_windows_stride_and_final_partial(self, spark):
        from geospark.operators.textstats import chunk_docs
        # 10 tokens, chunks of 4 with overlap 2 (stride 2):
        # starts 0,2,4,6,8 -> last chunk is the 2-word tail
        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, text), (2, "!!!")],
                                   "doc_id long, text string")
        rows = sorted(
            (r["chunk_idx"], r["n_words"], r["chunk_text"])
            for r in chunk_docs(df, chunk_words=4, overlap=2).collect())
        assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
        assert [r[1] for r in rows] == [4, 4, 4, 4, 2]
        assert rows[0][2] == "w0 w1 w2 w3"
        assert rows[1][2] == "w2 w3 w4 w5"
        assert rows[4][2] == "w8 w9"
        # doc 2 has zero tokens -> no chunks at all

    def test_overlap_ge_chunk_raises(self, spark):
        import pytest as _pt

        from geospark.operators.textstats import chunk_docs
        df = spark.createDataFrame([(1, "a b")],
                                   "doc_id long, text string")
        with _pt.raises(ValueError):
            chunk_docs(df, chunk_words=4, overlap=4)

    def test_map_only_plan(self, spark):
        from geospark.queries import q_chunk_docs
        plan = (q_chunk_docs(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan


class TestHostDup:
    def test_shared_template_counts(self, spark):
        from pyspark.sql import functions as F

        from geospark.operators.dedup import host_dup_stats
        tmpl = "one two three four five six seven eight"
        rows = [("a.com", tmpl + " alpha beta gamma delta " + tmpl),
                ("b.com", tmpl + " epsilon zeta eta theta iota kappa"),
                ("c.com", "lambda mu nu xi omicron pi rho sigma")]
        df = spark.createDataFrame(rows, "host string, text string")
        got = {r["host"]: (r["n_chunks"], r["n_shared_chunks"])
               for r in host_dup_stats(df, F.col("host"),
                                       k=8).collect()}
        # the 8-word template chunk is on a.com AND b.com -> shared
        # for both; c.com shares nothing
        assert got["a.com"][1] >= 1 and got["b.com"][1] >= 1
        assert got["c.com"][1] == 0
        # distinct digests per host: a.com's repeated template chunk
        # counts once
        assert all(s <= n for n, s in got.values())

    def test_driver_query_runs(self, spark):
        from geospark.queries import q_host_dup
        rows = q_host_dup(spark, SF).collect()
        assert rows and all(r["n_chunks"] >= r["n_shared_chunks"]
                            for r in rows)


class TestVocabIndex:
    def test_dense_ids_df_order(self, spark):
        from geospark.operators.textstats import vocab_index
        df = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"),
             (3, "banana date")],
            "doc_id long, text string")
        got = {r["term"]: (r["df"], r["term_id"])
               for r in vocab_index(df).collect()}
        # banana df=3 -> id 0; apple/cherry/date df=1 tie -> term asc
        assert got["banana"] == (3, 0)
        assert got["apple"] == (1, 1)
        assert got["cherry"] == (1, 2)
        assert got["date"] == (1, 3)

    def test_no_single_partition_window(self, spark):
        from geospark.queries import q_vocab
        plan = (q_vocab(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SinglePartition" not in plan


class TestGeohash:
    def test_known_vectors(self, spark):
        from geospark.functions.cells import geohash_encode
        df = spark.createDataFrame(
            [(1, 57.64911, 10.40744),      # classic example
             (2, 40.689247, -74.044502),   # Statue of Liberty
             (3, -33.8568, 151.2153)],     # Sydney Opera House
            "pid long, lat double, lon double")
        got = {r["pid"]: r["geohash"] for r in
               geohash_encode(df, "lat", "lon", precision=6).collect()}
        assert got == {1: "u4pruy", 2: "dr5r7p", 3: "r3gx2u"}

    def test_edge_clamps(self, spark):
        from geospark.functions.cells import geohash_encode
        df = spark.createDataFrame(
            [(1, 90.0, 180.0), (2, -90.0, -180.0)],
            "pid long, lat double, lon double")
        got = {r["pid"]: r["geohash"] for r in
               geohash_encode(df, "lat", "lon", precision=6).collect()}
        # the +90/+180 corner clamps to the last cell instead of
        # overflowing to 2^bits
        assert got[1] == "z" * 6 or got[1][0] == "z"
        assert got[2] == "0" * 6

    def test_odd_precision_and_prefix_nesting(self, spark):
        from geospark.functions.cells import geohash_encode
        df = spark.createDataFrame([(1, 57.64911, 10.40744)],
                                   "pid long, lat double, lon double")
        g5 = geohash_encode(df, "lat", "lon",
                            precision=5).collect()[0]["geohash"]
        g7 = geohash_encode(df, "lat", "lon",
                            precision=7).collect()[0]["geohash"]
        assert g5 == "u4pru" and g7.startswith("u4pruy")

    def test_map_only_plan(self, spark):
        from geospark.queries import q_geohash
        plan = (q_geohash(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan


class TestFunnelByCell:
    def test_hand_conversion(self, spark):
        import datetime as dt

        from geospark.queries import q_funnel_by_cell  # noqa: F401
        from pyspark.sql import functions as F

        from geospark.functions.cells import cell_encode
        from geospark.operators.events import funnel_steps
        base = dt.datetime(2024, 1, 1)

        def ev(eid, uid, typ, mins, val):
            return (eid, base + dt.timedelta(minutes=mins), uid, typ,
                    float(val), "")
        rows = [ev(1, 10, "view", 0, 5.0), ev(2, 10, "click", 1, 99.0),
                ev(3, 10, "purchase", 2, 99.0),
                ev(4, 20, "view", 0, 5.0), ev(5, 20, "click", 1, 5.0),
                ev(6, 30, "click", 0, 5.0)]  # never viewed: no start
        e = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        lat = ((F.col("user_id") % 180).cast("double") - 90.0)
        lon = (((F.col("value") % 360.0) + 360.0) % 360.0 - 180.0)
        cell = cell_encode(lat, lon, 6)
        first = (e.select("user_id", F.struct(
            F.col("ts").cast("long").alias("us"), "event_id",
            cell.alias("cell")).alias("_m"))
            .groupBy("user_id").agg(F.min("_m").alias("_m"))
            .select("user_id", F.col("_m.cell").alias("cell")))
        fun = funnel_steps(e, ["view", "click", "purchase"]) \
            .select("user_id", "stages")
        out = (fun.join(first, "user_id").groupBy("cell")
               .agg(F.count(F.lit(1)).alias("n_starters"),
                    F.sum(F.when(F.col("stages") == 3, 1).otherwise(0))
                    .cast("long").alias("n_full")).collect())
        got = {r["cell"]: (r["n_starters"], r["n_full"]) for r in out}
        # users 10 and 20 share the first-event cell (same uid-lat
        # band? no — different uid => different cells); user 30 absent
        assert sum(n for n, _f in got.values()) == 2
        assert sum(f for _n, f in got.values()) == 1

    def test_no_cartesian_or_single_partition(self, spark):
        from geospark.queries import q_funnel_by_cell
        plan = (q_funnel_by_cell(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan


class TestCellMoments:
    def test_hand_moments(self, spark):
        from pyspark.sql import functions as F

        from geospark.operators.tiles import cell_moments
        # all four points land in distinct cells except two sharing
        df = spark.createDataFrame(
            [(10.0, 10.0, 3), (10.0, 10.0, 5), (50.0, 50.0, 7)],
            "lat double, lon double, v long")
        got = {r["cell"]: (r["n"], r["sum_v"], r["sum_v2"]) for r in
               cell_moments(df, 4, F.col("v")).collect()}
        assert sorted(got.values()) == [(1, 7, 49), (2, 8, 34)]

    def test_single_exchange_partial_agg(self, spark):
        from geospark.queries import q_cell_moments
        plan = (q_cell_moments(spark, SF)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SinglePartition" not in plan
