"""Spatial joins: broadcast-then-refine point-in-polygon, bbox join,
grid-partitioned kNN with candidate-cell expansion.

This module is the engine's "logical rewrite" layer (SURVEY.md §4.2):
spatial theta-joins are rewritten at DataFrame-construction time into
  cell-covering explode  ->  equi-join on cell  ->  exact refine
so Catalyst sees plain equi-joins it can broadcast/AQE-optimize, and the
only UDF in the plan is the vectorized ray-cast refine.

One path serves ``spatial_join`` and ``pip_tile_counts``:
  * ``_polygon_side`` covers a small polygon side on the driver and a
    large one on the executors, both in one cover schema ``(id, _cell,
    _full, _rect, _bx0, _by0, _bx1, _by1, _gwkb)``;
  * ``_join_cover`` broadcasts a driver-built cover (the point side
    streams map-side, never shuffled) and sends an executor-built one
    through a row cap and cost model (else shuffled-hash join, with AQE
    skew-join for hot cells);
  * ``_refine`` decides ``_full OR (_rect AND bounds)`` in the JVM and
    ray-casts the rest.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from ..functions.cells import (_RES_SHIFT, cell_bounds_np, cell_encode,
                               cover_polygon_np)
from ..kernels.geom import Geom
from ..kernels.ops import point_in_rings
from ..kernels.wkb import parse_wkb
from ..materialize import materialize
from .par import fanout_repartition, plan_bytes

# expr vs udf refine on a collected side (r5, 2M points, local[8]): 72
# edges 1.0/0.8 s, 288 edges 3.5/1.0, 4096 edges 23.6/1.1 — the unrolled
# CASE outgrows janino's 64 KB method cap (at 8192 edges building it OOMs
# the driver). expr keeps a Python-free plan for small dims.
EXPR_MAX_EDGES = 128

COVER_COLS = ("_cell", "_full", "_rect", "_bx0", "_by0", "_bx1", "_by1",
              "_gwkb")


def _cover_schema(poly_id_col: str) -> str:
    return (f"{poly_id_col} long, _cell long, _full boolean, "
            f"_rect boolean, _bx0 double, _by0 double, "
            f"_bx1 double, _by1 double, _gwkb binary")


def _geom_rings(g: Geom) -> list[list[np.ndarray]]:
    """Geometry -> list of polygons, each a list of rings (closed)."""
    if g is None or g.is_empty:
        return []
    if g.type_id == 3:
        return [[r[:, :2] for r in g.rings]]
    if g.type_id == 6:
        return [[r[:, :2] for r in p.rings] for p in g.parts
                if not p.is_empty]
    raise ValueError(f"not an areal geometry: type {g.type_id}")


def polygon_cover(polys: list[tuple[int, bytes | None]], res: int
                  ) -> tuple[list[tuple[int, int, bool]],
                             dict[int, list[list[np.ndarray]]]]:
    """[(poly_id, wkb)] -> (cover rows [(poly_id, cell, full)],
    {poly_id: polygons-as-rings}). ``full=True`` cells are entirely
    inside the polygon (refine skipped). Null/EMPTY polygons cover
    nothing (reference null/empty semantics end to end)."""
    cover: list[tuple[int, int, bool]] = []
    ring_map: dict[int, list[list[np.ndarray]]] = {}
    for pid, wkb in polys:
        g = parse_wkb(wkb) if wkb is not None else None
        pgs = _geom_rings(g) if g is not None else []
        if not pgs:
            continue
        ring_map[pid] = pgs
        seen: dict[int, bool] = {}
        for rings in pgs:
            cells = cover_polygon_np(rings, res)
            if cells.size == 0:
                continue
            # full-containment: center inside AND no edge bbox overlaps
            from ..kernels.ops import seg_rect_intersect
            x0, y0, x1, y1 = cell_bounds_np(cells)
            cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
            center_in = point_in_rings(cx, cy, rings)
            edge_hit = np.zeros(cells.size, dtype=bool)
            for ring in rings:
                edge_hit |= seg_rect_intersect(ring, x0, y0, x1, y1)
            full = center_in & ~edge_hit
            for c, f in zip(cells.tolist(), full.tolist()):
                seen[c] = seen.get(c, False) or f
        cover.extend((pid, c, f) for c, f in seen.items())
    return cover, ring_map


def _cover_rows(polys: list[tuple[int, bytes | None]], res: int,
                carry_wkb: bool):
    """[(poly_id, wkb)] -> (rows of the cover schema, ring map). The
    Python covering tier: no rectangle fast path (``_rect`` False).
    With ``carry_wkb`` the boundary cells carry the polygon WKB for the
    WKB refine UDF; full cells always stay NULL (no refine, no
    payload)."""
    cover, ring_map = polygon_cover(polys, res)
    wkb_of = dict(polys)
    rows = [(int(p), int(c), bool(f), False, 0.0, 0.0, 0.0, 0.0,
             None if f or not carry_wkb else wkb_of[p])
            for p, c, f in cover]
    return rows, ring_map


def _res_for_area(med: float | None, min_res: int = 4, max_res: int = 12,
                  target_cells_per_poly: int = 64) -> int:
    """Smallest res whose cells per median envelope area reach the
    target — balances explode factor (broadcast size) against
    candidates-per-cell (refine cost)."""
    if med is None:
        return min_res
    for res in range(min_res, max_res + 1):
        cell = (360.0 / (1 << res)) * (180.0 / (1 << res))
        if med / cell >= target_cells_per_poly:
            return res
    return max_res


def pick_resolution(polys: list[tuple[int, bytes | None]],
                    min_res: int = 4, max_res: int = 12,
                    target_cells_per_poly: int = 64) -> int:
    """Resolution selection (SURVEY.md §4.2 item 3) over collected
    polygons: driver-side, envelope math only."""
    from ..kernels.ops import geom_envelope
    areas = []
    for _, wkb in polys:
        g = parse_wkb(wkb) if wkb is not None else None
        if g is None or g.is_empty:
            continue
        x0, y0, x1, y1 = geom_envelope(g)
        if np.isnan(x0):
            continue
        areas.append(max(x1 - x0, 1e-9) * max(y1 - y0, 1e-9))
    med = float(np.median(areas)) if areas else None
    return _res_for_area(med, min_res, max_res, target_cells_per_poly)


def _pick_resolution_distributed(polys_df, geom_col: str,
                                 min_res: int = 4, max_res: int = 12,
                                 target_cells_per_poly: int = 64) -> int:
    """pick_resolution without collecting geometry: the cover's own
    detection pass (``_detect``) with the stats aggregation over it
    (``_side_stats``), whose median envelope area picks the resolution.
    ``distributed_polygon_cover``'s callers pick from that same
    aggregation inside their one pass, so both always agree."""
    med = _side_stats(_detect(polys_df, geom_col), None)["med_area"]
    return _res_for_area(med, min_res, max_res, target_cells_per_poly)


def refine_expr_col(ring_map: dict[int, list[list[np.ndarray]]],
                    poly_id_col: str, lon_col: str, lat_col: str):
    """JVM-expression refine: the even-odd ray cast unrolled into a
    CASE over poly ids (kernels.ops.point_in_rings_sql emits ANSI SQL
    valid in both Spark and DuckDB). Zero Python — the whole PIP join
    becomes whole-stage-codegen'd. Viable when the total edge count is
    small (dimension tables: countries/zones); the UDF path covers the
    general case."""
    from pyspark.sql import functions as F

    from ..kernels.ops import point_in_rings_sql
    whens = []
    for pid, pgs in ring_map.items():
        pred = " OR ".join(
            f"({point_in_rings_sql(lon_col, lat_col, rings)})"
            for rings in pgs)
        whens.append(f"WHEN {int(pid)} THEN ({pred})")
    if not whens:
        return F.lit(False)
    return F.expr(f"CASE {poly_id_col} " + " ".join(whens)
                  + " ELSE FALSE END")


def total_edges(ring_map: dict[int, list[list[np.ndarray]]]) -> int:
    return sum(max(r.shape[0] - 1, 0)
               for pgs in ring_map.values()
               for rings in pgs for r in rings)


def make_refine_udf(ring_map: dict[int, list[list[np.ndarray]]]):
    """(poly_id, lon, lat) -> bool pandas UDF for a collected side. The
    ring map travels in the closure (pickled once, reused per executor);
    the batch is grouped by poly_id so each polygon's ray-cast runs
    vectorized over its points. NULL poly_id rows return False at O(1)
    cost — the caller gates the input with ``when(~_full, pid)``. On a
    collected side it beats the WKB UDF 1.5x (288 edges) to 6.5x (4096
    edges), which ships the polygon bytes with every boundary row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def refine(pid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(pid), dtype=bool)
        pids = pid.to_numpy(dtype=np.float64, na_value=np.nan)
        x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        for p in np.unique(pids[~np.isnan(pids)]):
            sel = pids == p
            hit = np.zeros(int(sel.sum()), dtype=bool)
            for rings in ring_map.get(int(p), []):
                hit |= point_in_rings(x[sel], y[sel], rings)
            out[sel] = hit
        return pd.Series(out)

    return refine


def _envelope_areas(wkb: pd.Series, pb, valid) -> np.ndarray:
    """Envelope area ``(xmax - xmin) * (ymax - ymin)`` of every row of a
    WKB batch, equal to what ``st_envelope`` gives. Rows the LE polygon
    parser decoded (``pb``) reduce over their coordinates in place; the
    rows it rejects (multipolygons, big-endian) take the general codec.
    A row without an envelope (NULL, EMPTY, all-NaN) reports 0, which
    the median's ``area > 0`` filter leaves out."""
    from ..kernels.ops import geom_envelope
    area = np.zeros(len(wkb))
    # coordinates are grouped by polygon (rings sorted by polygon)
    cpoly = np.repeat(pb.poly_of_ring, pb.ring_rows)
    if cpoly.size:
        has, first = np.unique(cpoly, return_index=True)
        area[has] = ((np.fmax.reduceat(pb.xs, first)
                      - np.fmin.reduceat(pb.xs, first))
                     * (np.fmax.reduceat(pb.ys, first)
                        - np.fmin.reduceat(pb.ys, first)))
    rest = ~pb.ok if valid is None else ~pb.ok & valid
    for i in np.nonzero(rest)[0]:
        ex0, ey0, ex1, ey1 = geom_envelope(parse_wkb(bytes(wkb.iat[i])))
        area[i] = (ex1 - ex0) * (ey1 - ey0)
    area[np.isnan(area)] = 0.0
    return area


def _make_rect_info_udf():
    """geom_wkb -> struct(rect, x0, y0, x1, y1, area): the one Python
    read of a distributed polygon side. Fully vectorized axis-aligned-
    rectangle detection over the batch WKB buffers (structural, no
    float tolerance: 1 ring, 5 rows, closed, 2 distinct x, 2 distinct
    y, every edge axis-aligned), plus each polygon's envelope area
    (``_envelope_areas``) from the same decoded buffers, which the stats
    aggregation turns into the cover resolution. One cheap Arrow pass
    over the polygon side replaces per-polygon Python covering for the
    rectangle-dominant case. Big-endian / EWKB-exotic rectangles fall
    outside the LE fast parser and are reported rect=False — they take
    the (exact, slower) general covering tier instead; output is
    unchanged.

    Created lazily per call: module-level pandas_udf crashes on worker
    re-import (see functions/geometry.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<rect:boolean,x0:double,y0:double,"
                "x1:double,y1:double,area:double>")
    def info(wkb: pd.Series) -> pd.DataFrame:
        from ..functions.geometry import _series_to_wkb_buffers
        from ..kernels.wkb import parse_polygon_wkb_buffer
        n = len(wkb)
        rect = np.zeros(n, dtype=bool)
        x0 = np.zeros(n); y0 = np.zeros(n)
        x1 = np.zeros(n); y1 = np.zeros(n)
        data, offs, val = _series_to_wkb_buffers(wkb)
        pb = parse_polygon_wkb_buffer(data, offs, val)
        lo = np.searchsorted(pb.poly_of_ring, np.arange(n))
        hi = np.searchsorted(pb.poly_of_ring, np.arange(n) + 1)
        cand = np.where(pb.ok & (hi - lo == 1))[0]
        if cand.size:
            ring = lo[cand]
            five = pb.ring_rows[ring] == 5
            cand, ring = cand[five], ring[five]
        if cand.size:
            st = pb.ring_row_start[ring]
            gather = st[:, None] + np.arange(5)[None, :]
            X = pb.xs[gather]  # (k, 5)
            Y = pb.ys[gather]
            closed = (X[:, 0] == X[:, 4]) & (Y[:, 0] == Y[:, 4])
            xmin = X[:, :4].min(axis=1); xmax = X[:, :4].max(axis=1)
            ymin = Y[:, :4].min(axis=1); ymax = Y[:, :4].max(axis=1)
            two_x = ((xmin != xmax)
                     & ((X[:, :4] == xmin[:, None])
                        | (X[:, :4] == xmax[:, None])).all(axis=1))
            two_y = ((ymin != ymax)
                     & ((Y[:, :4] == ymin[:, None])
                        | (Y[:, :4] == ymax[:, None])).all(axis=1))
            dx = np.diff(X, axis=1); dy = np.diff(Y, axis=1)
            axis_aligned = ((dx == 0) | (dy == 0)).all(axis=1)
            good = closed & two_x & two_y & axis_aligned
            sel = cand[good]
            rect[sel] = True
            x0[sel] = xmin[good]; x1[sel] = xmax[good]
            y0[sel] = ymin[good]; y1[sel] = ymax[good]
        return pd.DataFrame({"rect": rect, "x0": x0, "y0": y0,
                             "x1": x1, "y1": y1,
                             "area": _envelope_areas(wkb, pb, val)})

    return info


def _cell_ranges(x0, y0, x1, y1, n: int):
    """Closed-intersect cell index ranges (ix0, ix1, iy0, iy1) of the
    box [x0, x1] x [y0, y1] on an n x n grid, clamped to the grid. Cell
    i intersects [x0, x1] iff i >= ceil((x0+180)/360*n) - 1 and
    i <= floor((x1+180)/360*n): the ceil-1 form includes the cell whose
    RIGHT edge merely touches x0 (and floor the one whose left edge
    touches x1), mirroring the Python covering's closed bbox overlap."""
    from pyspark.sql import functions as F
    zero, nmax = F.lit(0).cast("long"), F.lit(n - 1).cast("long")
    return (F.greatest(zero, F.ceil((x0 + 180.0) / 360.0 * n)
                       .cast("long") - 1),
            F.least(nmax, F.floor((x1 + 180.0) / 360.0 * n).cast("long")),
            F.greatest(zero, F.ceil((y0 + 90.0) / 180.0 * n)
                       .cast("long") - 1),
            F.least(nmax, F.floor((y1 + 90.0) / 180.0 * n).cast("long")))


def _detect(polys_df, geom_col: str, *keep: str):
    """The one Python read of a distributed polygon side: ``keep``
    columns plus the ``_make_rect_info_udf`` struct ``_ri``.
    fanout_repartition spreads a few-file side over the cores."""
    from pyspark.sql import functions as F
    return fanout_repartition(polys_df).select(
        *keep, _make_rect_info_udf()(F.col(geom_col)).alias("_ri"))


def _rect_rows(res: int):
    """Exploded row count of each rectangle's cover at ``res`` (0 for a
    non-rectangle), from the same ranges the cover explodes."""
    from pyspark.sql import functions as F
    ix0, ix1, iy0, iy1 = _cell_ranges(
        F.col("_ri.x0"), F.col("_ri.y0"), F.col("_ri.x1"),
        F.col("_ri.y1"), 1 << res)
    zero = F.lit(0).cast("long")
    return F.when(F.col("_ri.rect"),
                  F.greatest(zero, ix1 - ix0 + 1)
                  * F.greatest(zero, iy1 - iy0 + 1)).otherwise(F.lit(0))


def _side_stats(info, res: int | None) -> dict:
    """ONE tiny aggregation over the detection output: polygon count,
    non-rect residue count, the median envelope area that picks the
    resolution (``percentile_approx`` over ``area > 0``) and, when
    ``res`` is given, the EXACT exploded row count of the rect cover
    (``rect_rows``; None otherwise)."""
    from pyspark.sql import functions as F
    area = F.col("_ri.area")
    aggs = [F.count(F.lit(1)).alias("_np"),
            F.sum(F.when(F.col("_ri.rect"), 0).otherwise(1)).alias("_ng"),
            F.percentile_approx(F.when(area > 0, area), 0.5).alias("_med")]
    if res is not None:
        aggs.append(F.sum(_rect_rows(res)).alias("_rr"))
    st = info.agg(*aggs).collect()[0]
    med = st["_med"]
    return {"n_polys": int(st["_np"]),
            "n_gen": int(st["_ng"] or 0),
            "med_area": None if med is None else float(med),
            "rect_rows": int(st["_rr"] or 0) if res is not None else None}


def _detect_and_stats(polys_df, res: int | None, poly_id_col: str,
                      geom_col: str, rect_rows: bool = True):
    """First step of the distributed cover -> (info, res, stats): the
    frozen detection output, the resolution (picked from the stats'
    median envelope area when ``res`` is None) and ``_side_stats``.

    Freezes the one-row-per-polygon DETECTION output, not the exploded
    cover: the Python pass runs once however many branches read the
    cover, and the pure-JVM explode stays inline in the consumer's plan
    (scan -> explode -> join fuses into one codegen stage). The LAZY,
    geometry-free checkpoint is filled by the stats aggregation in the
    same job. With ``res`` None and ``rect_rows`` set, the rect cover's
    row count at the picked resolution comes from a second, JVM-only
    aggregation over the frozen info in one task (no exchange)."""
    from pyspark.sql import functions as F
    info = materialize(_detect(polys_df, geom_col, poly_id_col),
                       eager=False)
    stats = _side_stats(info, res)
    if res is None:
        res = _res_for_area(stats["med_area"])
        if rect_rows:
            rr = info.coalesce(1).agg(F.sum(_rect_rows(res))).collect()
            stats["rect_rows"] = int(rr[0][0] or 0)
    return info, res, stats


def _cover_from_info(polys_df, info, res: int, stats: dict,
                     poly_id_col: str, geom_col: str):
    """Second step of the distributed cover: the lazy rect explode and,
    unless every polygon is a rectangle, the union with the general
    tier's Python covering (which re-joins geometry by id from the
    source). Submits no job."""
    from pyspark.sql import functions as F
    cols = [poly_id_col, *COVER_COLS]

    def fn(it):
        for pdf in it:
            rows, _ring_map = _cover_rows(
                [(int(p), bytes(w) if w is not None else None)
                 for p, w in zip(pdf[poly_id_col], pdf[geom_col])],
                res, carry_wkb=True)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    n = 1 << res
    x0, y0 = F.col("_bx0"), F.col("_by0")
    x1, y1 = F.col("_bx1"), F.col("_by1")
    ix0, ix1, iy0, iy1 = _cell_ranges(x0, y0, x1, y1, n)
    cx0 = F.col("_ix") * (360.0 / n) - 180.0
    cx1 = (F.col("_ix") + 1) * (360.0 / n) - 180.0
    cy0 = F.col("_iy") * (180.0 / n) - 90.0
    cy1 = (F.col("_iy") + 1) * (180.0 / n) - 90.0
    rcov = (info.filter(F.col("_ri.rect"))
            .select(poly_id_col,
                    F.col("_ri.x0").alias("_bx0"),
                    F.col("_ri.y0").alias("_by0"),
                    F.col("_ri.x1").alias("_bx1"),
                    F.col("_ri.y1").alias("_by1"))
            .withColumn("_ix0", ix0).withColumn("_ix1", ix1)
            .withColumn("_iy0", iy0).withColumn("_iy1", iy1)
            # entirely off-grid side (sequence() would run DESCENDING
            # for inverted bounds): covers nothing, like the Python tier
            .filter((F.col("_ix0") <= F.col("_ix1"))
                    & (F.col("_iy0") <= F.col("_iy1")))
            .withColumn("_ix", F.explode(F.sequence("_ix0", "_ix1")))
            .withColumn("_iy", F.explode(F.sequence("_iy0", "_iy1")))
            .select(F.col(poly_id_col).cast("long").alias(poly_id_col),
                    (F.shiftleft(F.lit(res).cast("long"), _RES_SHIFT)
                     + F.shiftleft(F.col("_iy"), res)
                     + F.col("_ix")).alias("_cell"),
                    ((cx0 >= x0) & (cx1 <= x1)
                     & (cy0 >= y0) & (cy1 <= y1)).alias("_full"),
                    F.lit(True).alias("_rect"),
                    "_bx0", "_by0", "_bx1", "_by1",
                    F.lit(None).cast("binary").alias("_gwkb")))
    # all-rect side: skip the general union branch AT PLAN TIME; the
    # tag tells consumers the cover is pure JVM (its refine needs no UDF)
    if stats["n_gen"] == 0:
        rcov._geospark_pure_jvm = True
        rcov._geospark_cover_stats = stats
        return rcov
    gen = (info.filter(~F.col("_ri.rect")).select(poly_id_col)
           .join(polys_df.select(poly_id_col, geom_col), poly_id_col))
    par = polys_df.sparkSession.sparkContext.defaultParallelism
    gcov = gen.repartition(par).mapInPandas(
        fn, schema=_cover_schema(poly_id_col))
    out = rcov.unionByName(gcov)
    out._geospark_cover_stats = stats
    return out


def distributed_polygon_cover(polys_df, res: int,
                              poly_id_col: str = "zone_id",
                              geom_col: str = "geom_wkb"):
    """Covering computed ON EXECUTORS, in the cover schema: the driver
    never collects geometry, so a million-polygon side scales out.

    Two steps, one Python read of the side: ``_detect_and_stats`` runs
    the vectorized detection pass (rectangle corners and envelope area
    per polygon) into a lazy checkpoint and fills it with one stats
    aggregation (polygon count, non-rect count, median envelope area,
    rect cover rows), exposed as ``_geospark_cover_stats``;
    ``_cover_from_info`` then builds the cover lazily from the frozen
    info. Callers that pick the resolution (``spatial_join``,
    ``spatial_join_polygons``) call the two steps themselves and take
    the resolution from the same aggregation, so no side is read twice.

    Two tiers (r5): axis-aligned rectangles — the typical LARGE polygon
    side (parcels, tiles, boxes) — are covered with PURE JVM column
    expressions (sequence + explode over the closed-intersect cell index
    ranges, the same integer cell ids as cells.cell_encode); only the
    non-rectangular residue pays the per-polygon Python covering
    (mapInPandas, repartitioned to the full core budget). At sf1 (200k
    boxes) the all-Python covering was 9.7 s of the join's 10.3 s.
    Closed-intersect ranges match the Python covering's closed bbox
    overlap, which poly_join's shared-boundary semantics relies on;
    ``_full`` is the exact cell-inside-rect test (left/bottom closed,
    right/top open, the convention of the rect refine)."""
    info, res, stats = _detect_and_stats(polys_df, res, poly_id_col,
                                         geom_col)
    return _cover_from_info(polys_df, info, res, stats, poly_id_col,
                            geom_col)


def make_wkb_refine_udf():
    """(geom_wkb, lon, lat) -> bool pandas UDF: the polygon geometry
    arrives as a column (the cover's ``_gwkb``), not a driver-pickled
    closure. Each batch groups rows by identical WKB bytes so every
    polygon's ray-cast runs vectorized over its points (one parse per
    distinct polygon per batch). NULL rows (full cells) return False at
    O(1) cost: Spark extracts Python UDFs from the plan unconditionally,
    so there is no per-row short-circuit; per-row cheapness is the next
    best thing."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def refine(wkb: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        from ..functions.geometry import _series_to_wkb_buffers
        from ..kernels.wkb import parse_polygon_wkb_buffer
        out = np.zeros(len(wkb), dtype=bool)
        x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        codes, uniq = pd.factorize(wkb, use_na_sentinel=True)
        # decode ALL distinct polygons in one vectorized batch pass
        # (ragged ring views into two flat coord arrays); the per-
        # distinct loop below only slices views and ray-casts
        useries = pd.Series(list(uniq), dtype=object)
        data, offs, val = _series_to_wkb_buffers(useries)
        pbatch = parse_polygon_wkb_buffer(data, offs, val)
        ring_lo = np.searchsorted(pbatch.poly_of_ring,
                                  np.arange(len(uniq)))
        ring_hi = np.searchsorted(pbatch.poly_of_ring,
                                  np.arange(len(uniq)) + 1)
        for ci, w in enumerate(uniq):
            sel = codes == ci
            hit = np.zeros(int(sel.sum()), dtype=bool)
            if pbatch.ok[ci]:
                rings = []
                for ri in range(ring_lo[ci], ring_hi[ci]):
                    st = pbatch.ring_row_start[ri]
                    en = st + pbatch.ring_rows[ri]
                    rings.append(np.column_stack((pbatch.xs[st:en],
                                                  pbatch.ys[st:en])))
                if rings:
                    hit = point_in_rings(x[sel], y[sel], rings)
            else:  # multipolygon / big-endian / null: general codec
                g = parse_wkb(bytes(w)) if w is not None else None
                pgs = _geom_rings(g) if g is not None else []
                for rings in pgs:
                    hit |= point_in_rings(x[sel], y[sel], rings)
            out[sel] = hit
        return pd.Series(out)

    return refine


class _Side(NamedTuple):
    """A covered polygon side. ``rows``/``ring_map`` are set only when
    the side was collected to the driver."""
    cover: object  # DataFrame in the cover schema
    res: int
    rows: list | None
    ring_map: dict | None


def _polygon_side(polys_df, res: int | None, poly_id_col: str,
                  geom_col: str, distributed: bool) -> _Side:
    """The one side builder, and the one driver-or-executors choice: the
    side is collected and covered on the driver unless ``distributed``
    is set or it is over the driver caps, else covered on the executors;
    both return the cover schema. The byte cap reads the optimizer's
    estimate at zero job cost (a limit(cap+1) probe measured +0.45 s per
    call); a side of unknown size (RDD-backed) is collected and then
    held to the row cap. File-backed sides always report real bytes."""
    conf = polys_df.sparkSession.conf
    polys = None
    if not distributed:
        size = plan_bytes(polys_df)
        if size is None or size <= int(conf.get(
                "spark.geospark.pip.maxDriverPolyBytes", str(256 << 20))):
            rows = polys_df.select(poly_id_col, geom_col).collect()
            if len(rows) <= int(conf.get(
                    "spark.geospark.pip.maxDriverPolygons", "100000")):
                polys = [(r[0], r[1]) for r in rows]
    if polys is None:
        # one Python pass: the stats that fill the detection checkpoint
        # also pick the resolution when ``res`` is None
        info, res, stats = _detect_and_stats(polys_df, res, poly_id_col,
                                             geom_col)
        return _Side(_cover_from_info(polys_df, info, res, stats,
                                      poly_id_col, geom_col),
                     res, None, None)
    if res is None:
        res = pick_resolution(polys)
    # a collected side refines from the ring map (see _refine), so its
    # broadcast cover carries no geometry
    rows, ring_map = _cover_rows(polys, res, carry_wkb=False)
    cover = polys_df.sparkSession.createDataFrame(
        rows, schema=_cover_schema(poly_id_col))
    return _Side(cover, res, rows, ring_map)


def _broadcast_executor_cover(points, cover) -> bool:
    """Broadcast-or-shuffle for an executor-built cover. Broadcasting
    collects the cover through the driver, so it needs the cover under a
    row cap (exact rect rows + ~64 cells per non-rect polygon). Cost
    model: broadcasting saves shuffling the POINT side but pays cover
    bytes x every executor; when the point side is not much bigger than
    the cover a shuffled-hash join is cheaper (sf1: 1.4 s vs 2.3 s), when
    points dwarf it broadcast wins by orders of magnitude. A point side
    of unknown size counts as big."""
    conf = points.sparkSession.conf
    st = cover._geospark_cover_stats
    est = st["rect_rows"] + st["n_gen"] * 64
    cap = int(conf.get("spark.geospark.cover.broadcastMaxRows", "4000000"))
    factor = int(conf.get("spark.geospark.cover.broadcastCostFactor", "8"))
    pts_bytes = plan_bytes(points)
    cover_bytes = est * 64  # ~9 narrow columns per cover row
    return est <= cap and (pts_bytes is None
                           or pts_bytes > factor * cover_bytes)


def _join_cover(points, side: _Side, lat_col: str, lon_col: str,
                broadcast_cover: bool | None):
    """The one join block: points equi-joined with the side's cover on
    cell. A collected cover is broadcast; an executor-built one goes
    through ``_broadcast_executor_cover``. ``broadcast_cover`` overrides
    either choice."""
    from pyspark.sql import functions as F
    collected = side.rows is not None
    if broadcast_cover is None:
        broadcast_cover = collected or \
            _broadcast_executor_cover(points, side.cover)
    if broadcast_cover and not collected:
        # broadcast runs the fanout + refine at the probe SCAN's
        # parallelism (1-6 tasks for a single-row-group file); one
        # size-capped round-robin exchange buys full-core fanout
        # (8.4 s -> 2.7 s at sf1; no-op at production scan widths)
        points = fanout_repartition(points, force=True)
    pts = points.withColumn("_cell",
                            cell_encode(lat_col, lon_col, side.res))
    # non-broadcast: the cover is the shuffled-hash BUILD side (sort-merge
    # measured 8.0 s vs 1.4 s at sf1); the hint degrades to SMJ when a
    # build partition can't fit, and AQE skew-join still applies
    cov = (F.broadcast(side.cover) if broadcast_cover
           else side.cover.hint("shuffle_hash"))
    return pts.join(cov, "_cell", "inner")


def _refine(joined, side: _Side, poly_id_col: str, lon_col: str,
            lat_col: str):
    """The one refine rule, as ONE filter over the joined rows:
    ``_full OR (_rect AND bounds)`` in the JVM — the half-open
    [x0, x1) x [y0, y1) test replicates the even-odd ray cast EXACTLY
    for an axis-aligned rectangle — then the ray cast for the rest: the
    unrolled ``expr`` when the side was collected and has at most
    EXPR_MAX_EDGES edges, the ring-map UDF when it was collected and has
    more, and the WKB UDF over ``_gwkb`` for an executor-built cover
    (none for an all-rectangle one). Single pass: a union of per-tier
    filters would re-execute the whole upstream once per tier (r4/r5:
    1.6-2.6x slower)."""
    from pyspark.sql import functions as F
    lon, lat = F.col(lon_col), F.col(lat_col)
    pred = F.col("_full") | (
        F.col("_rect") & (lon >= F.col("_bx0")) & (lon < F.col("_bx1"))
        & (lat >= F.col("_by0")) & (lat < F.col("_by1")))
    if side.ring_map is None:
        if not getattr(side.cover, "_geospark_pure_jvm", False):
            pred = pred | make_wkb_refine_udf()(F.col("_gwkb"), lon, lat)
    elif total_edges(side.ring_map) <= EXPR_MAX_EDGES:
        pred = pred | refine_expr_col(side.ring_map, poly_id_col,
                                      lon_col, lat_col)
    else:
        pid = F.when(~F.col("_full"), F.col(poly_id_col))
        pred = pred | make_refine_udf(side.ring_map)(pid, lon, lat)
    return joined.filter(pred).drop(*COVER_COLS)


def spatial_join(points, polys_df, *, res: int | None = None,
                 lat_col: str = "lat", lon_col: str = "lon",
                 poly_id_col: str = "zone_id", geom_col: str = "geom_wkb",
                 how: str = "inner", broadcast_cover: bool | None = None,
                 distributed: bool = False):
    """Point-in-polygon join.

    points: DataFrame with lat/lon double columns.
    polys_df: polygon DataFrame (poly_id, wkb geometry).
    Returns points columns + poly_id (inner), or the points columns of
    the matched (left_semi) / unmatched (left_anti) rows.

    Plan shape: points -> [cell expr] -> equi-join cover -> ONE refine
    filter (see ``_refine``). The polygon side is collected and covered
    on the driver while it is under the driver caps
    (``spark.geospark.pip.maxDriverPolyBytes`` / ``maxDriverPolygons``)
    and covered on the executors above them; ``distributed=True`` skips
    the collect outright. A collected cover is broadcast; an
    executor-built one is broadcast while the cover is driver-safe and
    the point side dwarfs it, else shuffled-hash joined (AQE skew-join
    handles hot cells). ``broadcast_cover`` overrides that choice."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(f"how={how!r}")
    side = _polygon_side(polys_df, res, poly_id_col, geom_col, distributed)
    if how != "inner":
        # semi/anti need a per-row identity (re-joining on all point
        # columns is null-unsafe; distinct() collapses duplicate rows),
        # minted here under a name no caller column holds.
        # monotonically_increasing_id is nondeterministic and the points
        # are read twice, so the ids are materialized once.
        rid = "_rid"
        while rid in points.columns:
            rid = "_" + rid
        points = materialize(points.withColumn(
            rid, F.monotonically_increasing_id()))
    joined = _join_cover(points, side, lat_col, lon_col, broadcast_cover)
    matched = _refine(joined, side, poly_id_col, lon_col, lat_col)
    if how == "inner":
        return matched
    return (points.join(matched.select(rid).distinct(), rid, how)
            .drop(rid))


_RECOMPUTE_NODES = ("Generate", "Join", "Aggregate", "Window")


def _costly_to_recompute(df) -> bool:
    """True when ``df``'s optimized plan holds a node that is expensive
    or opaque to evaluate twice: a Python evaluation, generate, join,
    aggregate or window. Matches plan node class names, so a string
    literal that spells one of them does not trip it."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name in _RECOMPUTE_NODES or any(
                    k in name for k in ("Python", "Pandas", "Arrow")):
                return True
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:  # plan inspection is advisory only
        return False
    return False


def pip_tile_counts(points, polys_df, *, res: int | None = None,
                    tile_res: int | None = None,
                    lat_col: str = "lat", lon_col: str = "lon",
                    poly_id_col: str = "zone_id", geom_col: str = "geom_wkb",
                    extra_keys: list[str] | None = None,
                    count_col: str = "n_docs"):
    """Aggregate pushdown through the PIP join (r5, VERDICT r4
    Next-round #2): per-tile per-polygon counts WITHOUT flowing every
    point through the join + ray-cast.

    Output-equivalent to
    ``tile_counts(spatial_join(points, polys), tile_res,
    extra_keys=[poly_id] + extra_keys)`` but restructured around the
    classic eager-aggregation rewrite (push the partial aggregate
    below the join):

      1. points reduce to (cover_cell, tile_cell, *extra) partial
         counts — a map-side-combined aggregate whose exchange carries
         ~|cells x langs| rows instead of |points|;
      2. cover cells FULLY inside a polygon contribute by a tiny
         aggregate x broadcast-cover equi-join (zero per-point work —
         most of a large polygon's area);
      3. only points landing in BOUNDARY cover cells (an
         InSet literal predicate, no join) are refined by ``_refine``,
         then aggregated;
      4. one final tile-level sum merges 2+3.

    Boundary points are O(perimeter/area) of the hits, so the per-point
    join+refine traffic drops by that factor. The pushdown needs the
    cover's cells on the driver, so a side too big to collect counts
    the joined rows instead.

    ``points`` is consumed by two subtrees, so a points plan holding an
    opaque/expensive node (Python eval, generate, join, aggregate,
    window) is materialize()'d once; plain scan/project/filter plans
    pass through untouched.
    """
    from pyspark.sql import functions as F

    extra = list(extra_keys or [])
    if _costly_to_recompute(points):
        points = materialize(points)
    side = _polygon_side(polys_df, res, poly_id_col, geom_col,
                         distributed=False)
    res = side.res
    if tile_res is None:
        tile_res = res
    if side.rows is None:
        matched = _refine(_join_cover(points, side, lat_col, lon_col, None),
                          side, poly_id_col, lon_col, lat_col)
        return (matched.withColumn("cell",
                                   cell_encode(lat_col, lon_col, tile_res))
                .groupBy(poly_id_col, "cell", *extra)
                .agg(F.count(F.lit(1)).alias(count_col)))
    bnd_cells = sorted({c for _p, c, f, *_ in side.rows if not f})

    pts = points.withColumn("_cell", cell_encode(lat_col, lon_col, res))
    if tile_res == res:
        pts = pts.withColumn("_tile", F.col("_cell"))
    else:
        pts = pts.withColumn("_tile",
                             cell_encode(lat_col, lon_col, tile_res))

    parts = []
    if any(f for _p, _c, f, *_ in side.rows):
        full_df = side.cover.filter(F.col("_full")) \
            .select(poly_id_col, "_cell")
        # phase 1+2: the only pass over every point is a partial
        # aggregate; the join runs on the reduced table
        pre = (pts.groupBy("_cell", "_tile", *extra)
               .agg(F.count(F.lit(1)).alias("_c")))
        parts.append(pre.join(F.broadcast(full_df), "_cell")
                     .select(poly_id_col, "_tile", *extra, "_c"))
    if bnd_cells:
        # phase 3: InSet prefilter keeps the broadcast probe + ray-cast
        # off interior/unmatched points entirely
        bnd_pts = pts.filter(F.col("_cell").isin(bnd_cells))
        joined = bnd_pts.join(
            F.broadcast(side.cover.filter(~F.col("_full"))), "_cell")
        hit = (_refine(joined, side, poly_id_col, lon_col, lat_col)
               .groupBy(poly_id_col, "_tile", *extra)
               .agg(F.count(F.lit(1)).alias("_c")))
        parts.append(hit)
    if not parts:
        # no covered cells (all polygons null/EMPTY): empty result with
        # the exact output schema, extra-key types preserved
        return (pts.select(F.lit(0).cast("long").alias(poly_id_col),
                           F.col("_tile").alias("cell"), *extra,
                           F.lit(0).cast("long").alias(count_col))
                .limit(0))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # phase 4: tile-level merge (tiny — |tiles|, not |points|)
    return (out.groupBy(poly_id_col, "_tile", *extra)
            .agg(F.sum("_c").alias(count_col))
            .withColumnRenamed("_tile", "cell"))


def spatial_join_polygons(left, right, *, res: int | None = None,
                          l_id: str = "l_id", l_geom: str = "geom_wkb",
                          r_id: str = "r_id", r_geom: str = "geom_wkb",
                          how: str = "inner"):
    """Areal-areal join (parcels x flood zones): which polygons of
    ``left`` intersect which polygons of ``right``. Closed
    ST_Intersects semantics (shared boundary counts).

    Plan shape — both sides stay DataFrames end to end:
      1. cover BOTH sides into cells on executors
         (distributed_polygon_cover's two steps — same machinery as the
         PIP join, with per-cell full flags and rectangle corners; each
         side's one detection pass also picks its resolution);
      2. equi-join the covers on cell, dedup to candidate (l, r) pairs
         (one groupBy keyed by the pair);
      3. refine tiers: rect x rect pairs = pure-JVM closed interval
         overlap (exact for axis-aligned rectangles); pairs sharing a
         cell that is FULL in both polygons are true without any
         geometry work (cell interior is inside both); the residue
         joins both geometries by id and runs the exact
         kernels.ops-backed st_intersects refine.
    At scale the only shuffles are the cell equi-join and the pair
    dedup, both equi-keyed; AQE skew-join covers hot cells."""
    from pyspark.sql import functions as F

    # each side is read by Python once: one detection pass whose stats
    # aggregation also yields the side's resolution pick. The two run
    # from driver threads (carrying the caller's job group) so the
    # scheduler overlaps them; the covers use the coarser of the two
    # picks (rect_rows is never read here)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target
    detect = inheritable_thread_target(left.sparkSession)(_detect_and_stats)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fl = pool.submit(detect, left, res, l_id, l_geom, rect_rows=False)
        fr = pool.submit(detect, right, res, r_id, r_geom, rect_rows=False)
        (linfo, lres, lst), (rinfo, rres, rst) = fl.result(), fr.result()
    res = min(lres, rres)
    lcov_raw = _cover_from_info(left, linfo, res, lst, l_id, l_geom)
    rcov_raw = _cover_from_info(right, rinfo, res, rst, r_id, r_geom)
    def sided(cov, id_col, p):  # _full -> _lf, _bx0 -> _lx0, ...
        return cov.select(id_col, "_cell", *(
            F.col(c).alias(f"_{p}{a}") for c, a in (
                ("_full", "f"), ("_rect", "r"), ("_bx0", "x0"),
                ("_by0", "y0"), ("_bx1", "x1"), ("_by1", "y1"))))

    lcov, rcov = sided(lcov_raw, l_id, "l"), sided(rcov_raw, r_id, "r")
    # the rect x rect interval-overlap test and the both-full shortcut
    # read only per-pair constants, so they are decided PER COVER ROW
    # before the pair dedup (4 shuffled columns, not 11). Exact: closed
    # interval overlap == rect x rect ST_Intersects, and a cell full in
    # both polygons proves intersection.
    row_hit = ((F.col("_lf") & F.col("_rf"))
               | (F.col("_lr") & F.col("_rr")
                  & (F.col("_lx0") <= F.col("_rx1"))
                  & (F.col("_rx0") <= F.col("_lx1"))
                  & (F.col("_ly0") <= F.col("_ry1"))
                  & (F.col("_ry0") <= F.col("_ly1"))))
    pairs = (lcov.join(rcov, "_cell")
             .groupBy(l_id, r_id)
             .agg(F.max(row_hit).alias("_hit"),
                  F.first("_lr").alias("_lr"),
                  F.first("_rr").alias("_rr")))
    # a rect x rect pair with no interval overlap is definitively
    # disjoint (the covering is a superset of contact); only pairs
    # where at least one side is non-rect and no shared full cell
    # proved the hit still need geometry work
    needs_geom = ~F.col("_hit") & ~(F.col("_lr") & F.col("_rr"))
    if lcov_raw._geospark_cover_stats["n_gen"] == 0 \
            and rcov_raw._geospark_cover_stats["n_gen"] == 0:
        # both sides pure rectangles: _hit decides every pair, one
        # aggregation, one consumer, nothing to checkpoint
        matched = pairs.filter(F.col("_hit")).select(l_id, r_id)
    else:
        # general residue present: the pair table feeds two branches —
        # checkpoint it (now 5 narrow columns) so the covering join
        # runs once, not once per branch
        pairs = materialize(pairs)
        from ..functions.geometry import st_intersects
        gen = (pairs.filter(needs_geom)
               .join(left.select(l_id, F.col(l_geom).alias("_lg")), l_id)
               .join(right.select(r_id, F.col(r_geom).alias("_rg")),
                     r_id)
               .filter(st_intersects(F.col("_lg"), F.col("_rg")))
               .drop("_lg", "_rg"))
        matched = (pairs.filter(F.col("_hit")).unionByName(gen)
                   .select(l_id, r_id))
    if how == "inner":
        return matched
    if how in ("left_semi", "left_anti"):
        return left.join(matched.select(l_id).distinct(), l_id, how)
    raise ValueError(f"how={how!r}")


def _explode_box_cells(df, x0, y0, x1, y1, res: int):
    """One row of ``df`` per grid cell the box [x0, x1] x [y0, y1]
    touches (clamped floor cell indices of its corners), keyed ``_cell``:
    sequence() over the x/y index ranges, pure column expressions."""
    from pyspark.sql import functions as F
    n = 1 << res

    def idx(v, off, span):
        return F.least(F.lit(n - 1).cast("long"), F.greatest(
            F.lit(0).cast("long"),
            F.floor((v + F.lit(off)) / F.lit(span) * F.lit(n))))

    return (df
            .withColumn("_x", F.explode(F.sequence(idx(x0, 180.0, 360.0),
                                                   idx(x1, 180.0, 360.0))))
            .withColumn("_y", F.explode(F.sequence(idx(y0, 90.0, 180.0),
                                                   idx(y1, 90.0, 180.0))))
            .withColumn("_cell",
                        F.shiftleft(F.lit(res).cast("long"), _RES_SHIFT)
                        + F.shiftleft(F.col("_y"), res) + F.col("_x"))
            .drop("_x", "_y"))


def bbox_join(points, boxes, res: int, *,
              lat_col: str = "lat", lon_col: str = "lon",
              box_cols: tuple = ("xmin", "ymin", "xmax", "ymax"),
              box_id_col: str = "box_id"):
    """Point-in-bbox join as a pure column-expression rewrite: each box
    explodes into its covering cells via sequence() over the x/y cell
    ranges (no UDF, no driver collect — the box side can be a full
    table, not just a broadcastable dim), equi-join on cell, then the
    exact bbox compare. A point has exactly one cell, so no dedup is
    needed. This is the range-join -> equi-join rewrite of SURVEY.md
    §2.2 with Catalyst free to pick broadcast vs shuffle."""
    from pyspark.sql import functions as F
    xmin, ymin, xmax, ymax = (F.col(c) for c in box_cols)
    b = _explode_box_cells(boxes, xmin, ymin, xmax, ymax, res)
    p = points.withColumn("_cell", cell_encode(lat_col, lon_col, res))
    out = p.join(b, "_cell").filter(
        (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
        & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax))
    return out.drop("_cell")


def distance_join(left, right, radius_deg: float, *, res: int = 6,
                  l_id: str = "l_id", r_id: str = "r_id",
                  l_lat: str = "l_lat", l_lon: str = "l_lon",
                  r_lat: str = "lat", r_lon: str = "lon"):
    """Epsilon range join: all (left, right) point pairs within
    ``radius_deg`` euclidean degrees (squared-distance compare — exact
    IEEE arithmetic, closed boundary: dist == radius matches).

    Rewrite (the range-join -> equi-join shape of SURVEY §2.2, same as
    bbox_join): each LEFT point explodes into the cells its radius-box
    covers via sequence() over x/y cell ranges — pure column
    expressions, no UDF, no driver collect, both sides can be full
    tables; equi-join on cell (Catalyst picks broadcast vs shuffle,
    AQE handles skew); exact squared-distance refine. A right point
    has exactly one cell, so no pair dedup is needed. Explode factor
    is (radius/cell)^2-ish — pick ``res`` so the radius spans a few
    cells."""
    from pyspark.sql import functions as F
    r = F.lit(float(radius_deg))
    lon, lat = F.col(l_lon), F.col(l_lat)
    lft = _explode_box_cells(left, lon - r, lat - r, lon + r, lat + r, res)
    rgt = right.withColumn("_cell", cell_encode(r_lat, r_lon, res))
    dlat = F.col(l_lat) - F.col(r_lat)
    dlon = F.col(l_lon) - F.col(r_lon)
    sq = dlat * dlat + dlon * dlon
    return (lft.join(rgt, "_cell")
            .filter(sq <= r * r)
            .drop("_cell"))


# ---------------------------------------------------------------------------
# kNN join with candidate-cell expansion
# ---------------------------------------------------------------------------

_DENSITY_CACHE: dict = {}


def _density_stats(pts, res: int) -> float:
    """Average points per occupied cell — the heuristic behind the
    initial kNN ring size. Approximate (HLL distinct) and memoized on
    the DataFrame's semantic plan hash; wrong numbers only cost an
    extra ring iteration, never exactness."""
    from pyspark.sql import functions as F
    key = None
    try:
        key = (pts._jdf.queryExecution().analyzed().semanticHash(), res)
    except Exception:
        pass
    if key is not None and key in _DENSITY_CACHE:
        return _DENSITY_CACHE[key]
    stats = pts.agg(F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct("_pcell").alias("c")) \
        .collect()[0]
    avg = max(float(stats["n"]) / max(int(stats["c"]), 1), 1e-9)
    if key is not None:
        if len(_DENSITY_CACHE) > 256:
            _DENSITY_CACHE.clear()
        _DENSITY_CACHE[key] = avg
    return avg


def knn_join(queries, points, k: int, *, res: int = 8,
             query_id_col: str = "query_id", point_id_col: str = "point_id",
             q_lat: str = "q_lat", q_lon: str = "q_lon",
             p_lat: str = "lat", p_lon: str = "lon",
             max_iters: int = 5, metric: str = "planar",
             checkpoint: bool = False,
             debug_plans: list | None = None):
    """Exact k nearest neighbors (squared-degrees metric, id tiebreak)
    per query point.

    Grid algorithm: candidates from a Chebyshev ring of cells around the
    query; per-query exactness guarantee = kth distance must fit inside
    the ring's guaranteed radius, else the ring expands (driver loop —
    each iteration only re-joins the unsatisfied queries). Queries still
    unsatisfied after ``max_iters`` fall back to a brute-force broadcast
    cross join (exactness is never sacrificed).

    ``metric``:
      * "planar"  — dlat^2 + dlon^2 over raw degrees. Documented
        contract: longitude does NOT wrap in the distance (a neighbor
        across the antimeridian ranks by its unwrapped delta), though
        the candidate fanout does wrap — candidates are a superset, so
        the top-k under this metric is still exact.
      * "lonwrap" — dlat^2 + min(|dlon|, 360-|dlon|)^2: geodesically
        correct ordering near the antimeridian. Same ring guarantee: a
        point outside the wrapped Chebyshev ring has wrapped |dlon| >=
        ring*cell_w or |dlat| >= ring*cell_h, both >= ring*cell_h.
    Both metrics are IEEE-exact (+,-,*,abs,least only) in NumPy, Spark
    and the DuckDB oracle (kernels.ops docstring).

    Determinism (ADVICE r4, r6 update): the result is materialize()'d
    on EVERY path — single-iteration included — so downstream actions
    read frozen rows and never re-execute the candidate join (the
    in-loop topk cache makes the final checkpoint a result-sized job).
    ``checkpoint=True`` is therefore redundant but kept as an API
    no-op escape hatch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if metric not in ("planar", "lonwrap"):
        raise ValueError(f"metric={metric!r}")

    def dist_expr():
        dlat = F.col(q_lat) - F.col(p_lat)
        if metric == "lonwrap":
            adlon = F.abs(F.col(q_lon) - F.col(p_lon))
            dlon = F.least(adlon, F.lit(360.0) - adlon)
        else:
            dlon = F.col(q_lon) - F.col(p_lon)
        return dlat * dlat + dlon * dlon

    # contract: one row per query id — duplicate query rows would fan
    # out into duplicated candidates and corrupt row_number ranks
    queries = queries.dropDuplicates([query_id_col])
    # r6 (guide §2.6): the candidate join streams the POINT side, and
    # the per-query top-k's map-side sort + partial WindowGroupLimit
    # run on the point side's scan partitions — a small single-row-group
    # point table serializes the whole chain onto 1-2 cores (measured
    # 4.3 s single-threaded at sf1; 32-core after the repair)
    pts = fanout_repartition(points) \
        .withColumn("_pcell", cell_encode(p_lat, p_lon, res))
    # guarantee radius of a ring r (degrees): r cells in the *narrower*
    # axis; lat cells are 180/2^res deg, lon cells 360/2^res deg — a
    # Chebyshev ring r guarantees a disk of r * min(cell_h, cell_w)
    cell_h = 180.0 / (1 << res)
    guard_deg = cell_h  # min(180/2^r, 360/2^r) = 180/2^r

    remaining = queries.persist()
    # r6: no up-front count job — the first iteration's candidate pass
    # materializes the persisted query set anyway, and its own
    # remaining-count tells the loop whether to continue. Only the
    # max_iters=0 fallback needs an explicit count.
    n_remaining: int | None = None
    results = []
    to_unpersist: list = []
    # initial ring from data density: size the FIRST ring so the
    # guarantee (kth distance < ring * cell_h) typically holds in one
    # pass — every extra iteration costs a full job round-trip (window
    # shuffle + anti-join + count), which dominates at interactive
    # sizes (r3 bench: 2 iterations = 2.7 s, 1 iteration = 0.8 s on
    # the same data). Expected kth-NN radius in cell_h units for
    # near-uniform density is sqrt(2k / (pi * avg)) (a lon cell is
    # 2 cell_h wide, so pts per cell_h^2 = avg/2); the 2.5x margin
    # absorbs ~6x local sparsity before a second ring is needed.
    # Oversizing only widens one fanout; undersizing adds a whole
    # iteration — so err large. (Pure perf: the guarantee loop below
    # keeps exactness regardless.)
    # The stats scan is a heuristic input only, so it is (a) approx —
    # approx_count_distinct's HLL rides the same single agg instead of
    # an exact-distinct shuffle — and (b) memoized per (plan, res):
    # repeated calls over the same points table (bench reps, iterative
    # pipelines) pay the scan once (r3 bench regression: this job sat
    # in every timed rep).
    avg = _density_stats(pts, res)
    import math
    ring = max(1, min(1 << (res - 1),
                      math.ceil(2.5 * math.sqrt(
                          2.0 * k / (math.pi * avg)))))
    for _ in range(max_iters):
        if n_remaining == 0:  # None (not yet counted) keeps iterating
            break
        # neighbor-cell fanout as pure column ops: explode dx, dy ranges.
        # Longitude wraps; once 2*ring+1 >= grid width the relative
        # pmod fanout would map two dx offsets to the SAME cell —
        # duplicate candidates then fill the top-k with repeats and
        # falsely satisfy the guarantee (caught by a k~dataset-size
        # probe). At that threshold switch to absolute full-lon
        # coverage: every x column exactly once.
        # F.sequence keeps the plan O(1): explode(array(lit...)) would
        # materialize 2*ring+1 (or 2^res) literals in the plan tree
        n_cells = 1 << res
        cand = (remaining
                .withColumn("_dy", F.explode(F.sequence(
                    F.lit(-ring), F.lit(ring))))
                .withColumn("_qx", F.least(
                    F.lit(n_cells - 1), F.greatest(F.lit(0), F.floor(
                        (F.col(q_lon) + 180.0) / 360.0 * n_cells))))
                .withColumn("_qy", F.least(
                    F.lit(n_cells - 1), F.greatest(F.lit(0), F.floor(
                        (F.col(q_lat) + 90.0) / 180.0 * n_cells)))))
        if 2 * ring + 1 >= n_cells:
            cand = cand.withColumn("_nx", F.explode(F.sequence(
                F.lit(0), F.lit(n_cells - 1))))
        else:
            cand = (cand
                    .withColumn("_dx", F.explode(F.sequence(
                        F.lit(-ring), F.lit(ring))))
                    .withColumn("_nx", F.pmod(F.col("_qx") + F.col("_dx"),
                                              F.lit(n_cells)))
                    .drop("_dx"))
        cand = (cand
                .withColumn("_ny", F.col("_qy") + F.col("_dy"))
                .filter((F.col("_ny") >= 0) & (F.col("_ny") < n_cells))
                .withColumn("_pcell",
                            F.shiftleft(F.lit(res).cast("long"), _RES_SHIFT)
                            + F.shiftleft(F.col("_ny").cast("long"), res)
                            + F.col("_nx").cast("long"))
                .drop("_dy", "_qx", "_qy", "_nx", "_ny"))
        j = cand.join(pts, "_pcell", "inner").drop("_pcell")
        dist = dist_expr()
        w = Window.partitionBy(query_id_col).orderBy(
            dist.asc(), F.col(point_id_col).asc())
        # satisfied = found k candidates AND kth distance inside the
        # guarantee radius — computed as window aggregates over the SAME
        # partition key as row_number, so the check rides the top-k's
        # existing shuffle instead of adding a groupBy + semi-join.
        # Strict inequality: a point at exactly distance ring*guard_deg
        # can sit on a cell boundary assigned (via floor) to the first
        # uncovered cell; an equal-distance neighbor with a smaller id
        # would then be missed despite the (dist, id) tiebreak — ties at
        # the guarantee radius force another expansion instead.
        guard = (ring * guard_deg) ** 2
        wq = Window.partitionBy(query_id_col)
        # full-grid coverage (x spans every residue AND y spans every
        # row from any _qy): the candidate set IS the whole points
        # table, so the top-k is exact by definition — the radius
        # guarantee is irrelevant and, under the planar metric, can
        # never be met for antipodal dlon (which previously forced the
        # brute-force fallback to re-do work this iteration already
        # did; the cap at ring = 2^res subsumes the fallback)
        full_cover = ring >= n_cells - 1
        sat_expr = (F.lit(True) if full_cover else
                    (F.count(F.lit(1)).over(wq) >= k)
                    & (F.max("_sqdist").over(wq) < F.lit(guard)))
        topk = (j.withColumn("_sqdist", dist)
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= k)
                 .withColumn("_sat", sat_expr)).persist()
        # debug_plans captures the PRE-checkpoint frame: the returned
        # result scans a checkpointed RDD, so plan-shape tests must
        # look here to see the candidate-join/window structure
        if debug_plans is not None:
            debug_plans.append(topk)
        results.append(topk.filter(F.col("_sat")).drop("_sat"))
        to_unpersist.append(topk)
        sat_ids = topk.filter(F.col("_sat")).select(query_id_col) \
            .distinct()
        # materialize the shrunken query set once per iteration — chained
        # anti-joins otherwise recompute the whole history every pass
        prev_remaining = remaining
        remaining = remaining.join(sat_ids, query_id_col, "left_anti") \
            .persist()
        n_remaining = remaining.count()
        prev_remaining.unpersist()
        # cap: at ring >= n_cells the fanout already covers the whole
        # grid; further doubling only grows the guarantee radius
        ring = min(ring * 2, 1 << res)
    used_fallback = False
    if n_remaining is None:  # max_iters == 0: loop never counted
        n_remaining = remaining.count()
    if n_remaining > 0:
        # brute-force fallback for stragglers (exactness floor; with
        # the full-coverage satisfy above this is reachable only in
        # degenerate shapes, e.g. max_iters exhausted before the ring
        # cap). Broadcast the REMAINING QUERIES — the small straggler
        # side — never the points fact table: at scale broadcasting
        # `pts` OOMs every executor (r3 VERDICT). The cross join stays
        # distributed over the points partitions; the top-k window
        # shuffles |remaining| * |pts| rows by query id, which is the
        # irreducible cost of exact brute force.
        used_fallback = True
        j = F.broadcast(remaining).crossJoin(pts.drop("_pcell"))
        dist = dist_expr()
        from pyspark.sql import Window as W2
        w = W2.partitionBy(query_id_col).orderBy(
            dist.asc(), F.col(point_id_col).asc())
        fb = (j.withColumn("_sqdist", dist)
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= k))
        if debug_plans is not None:
            debug_plans.append(fb)
        results.append(fb)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    out = out.withColumnRenamed("_sqdist", "sqdist") \
             .withColumnRenamed("_rn", "rank")
    # ONE final materialization on every path (result-sized, lineage-
    # truncating), after which every per-iteration topk/remaining cache
    # is dropped — the cache population after knn_join returns is
    # exactly the checkpointed result. r6: this now covers the single-
    # iteration fast path too — the in-loop `topk` is persisted when
    # the checkpoint job runs, so materializing costs one result-sized
    # job over cached blocks (~30k rows at sf1), while the old plain-
    # plan return made the CONSUMER re-execute the whole candidate
    # join + window chain on its first action (measured ~1.2 s of the
    # 2.5 s warm q_knn at sf1; the r3-era "checkpoint slower" note
    # predates the in-loop persist that makes the checkpoint cheap).
    out = materialize(out)
    for df in to_unpersist:
        df.unpersist()
    remaining.unpersist()
    return out


def accessibility_2sfca(demand, supply, radius_deg: float, *,
                        res: int = 6, d_id: str = "d_id",
                        d_lat: str = "lat", d_lon: str = "lon",
                        s_id: str = "s_id", cap_col: str = "cap",
                        s_lat: str = "s_lat", s_lon: str = "s_lon"):
    """Two-step floating catchment area (2SFCA) accessibility — the
    standard spatial-equity measure (healthcare/food/service access):
    step 1 gives each supplier a capacity-to-demand ratio over the
    demand INSIDE its catchment, step 2 sums those ratios over every
    supplier a demand point can reach:

        R_j   = cap_j * 1e6 div |{i : dist(i, j) <= r}|   (floor ppm)
        A_i   = sum over reachable j of R_j

    A congested clinic contributes little to each patient even if
    close; an uncrowded one lifts everyone in range — exactly what a
    plain count-within-radius misses. Integer-exact given the pair
    set (counts + floor div + BIGINT sums); the membership test is
    distance_join's closed-boundary IEEE squared compare, identical
    expression text in both engines.

    Scale: ONE blocked spatial join (distance_join's cover-cell
    equi-join), materialize()'d and consumed twice — the per-supplier
    demand count and the per-demand ratio sum are both combinable
    aggs over the SAME pair frame, and the R_j table (one row per
    supplier) broadcasts back onto it. Suppliers with zero in-range
    demand have no ratio (excluded, not infinite); demand points with
    no reachable supplier are absent from the output (documented —
    a left join against the demand table restores them as zeros if a
    dense frame is wanted). -> (d_id, n_supp, access_ppm)."""
    from pyspark.sql import functions as F

    pairs = materialize(distance_join(
        supply.select(F.col(s_id), F.col(cap_col),
                      F.col(s_lat).alias("_slat"),
                      F.col(s_lon).alias("_slon")),
        demand.select(F.col(d_id), F.col(d_lat).alias("lat"),
                      F.col(d_lon).alias("lon")),
        radius_deg, res=res, l_lat="_slat", l_lon="_slon")
        .select(s_id, cap_col, d_id))
    ratio = (pairs.groupBy(s_id, cap_col)
             .agg(F.count(F.lit(1)).alias("_nd"))
             .select(F.col(s_id),
                     F.expr(f"CAST({cap_col} AS BIGINT) * 1000000 "
                            "div _nd").alias("_r")))
    return (pairs.join(F.broadcast(ratio), s_id)
            .groupBy(d_id)
            .agg(F.count(F.lit(1)).cast("long").alias("n_supp"),
                 F.sum("_r").cast("long").alias("access_ppm")))


def accessibility_2sfca_sql(demand_sql: str, supply_sql: str,
                            radius_deg: float) -> str:
    """DuckDB twin of accessibility_2sfca — brute-force pair
    enumeration (oracle scale; the blocked join is the scale path),
    same closed-boundary squared compare, floor-ppm ratio, BIGINT
    sum. ``demand_sql`` -> (d_id, lat, lon); ``supply_sql`` ->
    (s_id, cap, s_lat, s_lon)."""
    r = float(radius_deg)
    return f"""
WITH fc_d AS ({demand_sql}),
fc_s AS ({supply_sql}),
fc_p AS (SELECT s.s_id, s.cap, d.d_id
    FROM fc_s s JOIN fc_d d
    ON (d.lat - s.s_lat) * (d.lat - s.s_lat)
       + (d.lon - s.s_lon) * (d.lon - s.s_lon) <= {r} * {r}),
fc_r AS (SELECT s_id, CAST(cap AS BIGINT) * 1000000 // COUNT(*)
         AS r FROM fc_p GROUP BY s_id, cap)
SELECT p.d_id, CAST(COUNT(*) AS BIGINT) AS n_supp,
       CAST(SUM(fc_r.r) AS BIGINT) AS access_ppm
FROM fc_p p JOIN fc_r USING (s_id) GROUP BY 1
"""
