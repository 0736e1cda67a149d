"""st_* function surface: vectorized pandas UDFs over the kernel layer.

Dispatch policy (SURVEY.md §4.1 — the reference's batch-at-a-time model,
mapped to Spark's Arrow-batch UDF transport):

  * every UDF body reconstructs a pyarrow BinaryArray from its pandas
    batch and runs the **vectorized point fast path** first
    (wkb.parse_point_wkb_buffer — one structured view per batch, zero
    per-row Python); rows that are not plain points fall back to the
    general per-geometry codec (type-homogeneous grouping, §7.3);
  * pure-arithmetic functions (cells, bbox, squared distance) are NOT
    here — they're Column expressions in cells.py / joins, JVM-side;
  * encode direction (st_point) assembles the whole batch's WKB in one
    NumPy structured write (wkb.points_to_wkb_buffer), the builder-side
    analog (reference EP1, geoarrow_geos.c:308-321).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels.geom import GEOM_TYPES, format_wkt, parse_wkt
from ..kernels.ops import (geom_area, geom_centroid, geom_envelope,
                           polygon_batch_area_centroid)
from ..kernels.wkb import (parse_point_wkb_buffer, parse_polygon_wkb_buffer,
                           parse_wkb, points_to_wkb_buffer, write_wkb)

# ---------------------------------------------------------------------------
# batch plumbing
# ---------------------------------------------------------------------------


def _series_to_wkb_buffers(s: pd.Series):
    """pandas batch of WKB -> (data uint8[], offsets int64[], validity)."""
    arr = pa.array(s, type=pa.binary())
    bufs = arr.buffers()
    validity = None
    if arr.null_count:
        validity = ~np.asarray(arr.is_null())
    offsets = np.frombuffer(bufs[1], dtype=np.int32,
                            count=len(arr) + 1).astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.empty(0, dtype=np.uint8))
    return data, offsets, validity


def wkb_batch_xy(s: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(x, y, ok) for a WKB batch — vectorized for points, general-codec
    fallback for anything else (returns centroid-of-first-coord? no:
    non-points get NaN/not-ok; st_x/st_y are point accessors, matching
    GEOSGeomGetX semantics)."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    x, y, ok = parse_point_wkb_buffer(data, offsets, validity)
    # rows that are valid but not fast-path points: try general parse
    # (e.g. big-endian or EWKB-flagged points)
    todo = ~ok
    if validity is not None:
        todo &= validity
    if todo.any():
        for i in np.nonzero(todo)[0]:
            b = data[offsets[i]:offsets[i + 1]].tobytes()
            if not b:
                continue
            g = parse_wkb(b)
            if g is not None and g.type_id == 1 and not g.is_empty:
                x[i], y[i] = g.coords[0, 0], g.coords[0, 1]
                ok[i] = True
    return x, y, ok


def _wkb_buffer_to_bytes_series(data: np.ndarray, offsets: np.ndarray,
                                null_mask: np.ndarray | None) -> pd.Series:
    """Packed buffer -> pandas Series of bytes (the unavoidable object
    materialization at the pandas-UDF boundary; mapInArrow paths in
    operators/ skip this entirely)."""
    mv = memoryview(data.tobytes())
    out = [None if (null_mask is not None and null_mask[i])
           else bytes(mv[offsets[i]:offsets[i + 1]])
           for i in range(len(offsets) - 1)]
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# batch kernels (plain functions — importable on workers with no session)
# ---------------------------------------------------------------------------

def _st_point_batch(lon: pd.Series, lat: pd.Series) -> pd.Series:
    xv = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    yv = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    data, offsets = points_to_wkb_buffer(xv, yv)
    nulls = np.isnan(xv) | np.isnan(yv)
    return _wkb_buffer_to_bytes_series(data, offsets,
                                       nulls if nulls.any() else None)


def _st_geometrytype_batch(s: pd.Series) -> pd.Series:
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    out = np.full(n, None, dtype=object)
    lens = np.diff(offsets)
    idx = np.nonzero((lens >= 5) if validity is None
                     else ((lens >= 5) & validity))[0]
    for i in idx:  # header decode handles either endianness per row
        st = offsets[i]
        le = data[st] == 1
        raw = int.from_bytes(data[st + 1:st + 5].tobytes(),
                             "little" if le else "big")
        t = (raw & 0x1FFFFFFF) % 1000
        out[i] = GEOM_TYPES.get(t)
    return pd.Series(out)


def _typecode_batch(s: pd.Series) -> np.ndarray:
    """Calculator-convention type code (geoarrow_geos.h:125-170): 0 for
    null/empty, type for XY, 2000+t XYZ, 3000+t XYM, 4000+t XYZM.
    Vectorized for the point-dominant case; general parse for multis
    and big-endian rows."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    out = np.zeros(n, dtype=np.int32)
    isnull = np.zeros(n, dtype=bool) if validity is None else ~validity
    lens = np.diff(offsets)
    cand = (lens >= 5) & ~isnull
    starts = offsets[:-1]
    le = np.zeros(n, dtype=bool)
    le[cand] = data[starts[cand]] == 1
    fast = cand & le
    if fast.any():
        si = starts[fast]
        raw = (data[si + 1].astype(np.uint32)
               | (data[si + 2].astype(np.uint32) << 8)
               | (data[si + 3].astype(np.uint32) << 16)
               | (data[si + 4].astype(np.uint32) << 24))
        base = (raw & np.uint32(0x1FFFFFFF)).astype(np.int64)
        k, t = base // 1000, base % 1000
        has_z = (k == 1) | (k == 3) | ((raw & np.uint32(0x80000000)) != 0)
        has_m = (k == 2) | (k == 3) | ((raw & np.uint32(0x40000000)) != 0)
        dims_enum = np.where(has_z & has_m, 4,
                             np.where(has_m, 3, np.where(has_z, 2, 0)))
        code = (dims_enum * 1000 + t).astype(np.int32)
        # empty detection, vectorized: points -> NaN first coord;
        # linestring/polygon -> zero count word; multis with count>0 need
        # the general path (all-empty-children case)
        fi = np.nonzero(fast)[0]
        is_pt = t == 1
        if is_pt.any():
            px = np.empty(is_pt.sum())
            g = si[is_pt][:, None] + np.arange(5, 13, dtype=np.int64)[None]
            px = data[g].copy().view("<f8").ravel()
            code[is_pt] = np.where(np.isnan(px), 0, code[is_pt])
        non_pt = ~is_pt & (lens[fast] >= 9)
        if non_pt.any():
            g = si[non_pt][:, None] + np.arange(5, 9, dtype=np.int64)[None]
            cnt = data[g].copy().view("<u4").ravel()
            code[non_pt] = np.where(cnt == 0, 0, code[non_pt])
        out[fi] = code
        # exact pass for multis with parts (all-empty-children can only
        # be detected by full decode; rare on point-heavy web data)
        for i in fi[(t >= 4) & (code != 0)]:
            b = data[offsets[i]:offsets[i + 1]].tobytes()
            gg = parse_wkb(b)
            out[i] = 0 if gg is None else gg.calc_code()
    slow = cand & ~le
    for i in np.nonzero(slow)[0]:
        gg = parse_wkb(data[offsets[i]:offsets[i + 1]].tobytes())
        out[i] = 0 if gg is None else gg.calc_code()
    return out


def _wkb_headers(data: np.ndarray, offsets: np.ndarray,
                 validity: np.ndarray | None
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-row WKB header fields: (le, traw, t). ``le`` is
    False for null/too-short rows; ``t`` = base geometry type 1-7 (0
    where not readable little-endian)."""
    n = len(offsets) - 1
    le = np.zeros(n, dtype=bool)
    traw = np.zeros(n, dtype=np.uint32)
    t = np.zeros(n, dtype=np.int64)
    lens = np.diff(offsets)
    cand = lens >= 5
    if validity is not None:
        cand &= validity
    ci = np.nonzero(cand)[0]
    if ci.size:
        si = offsets[ci].astype(np.int64)
        le[ci] = data[si] == 1
        li = ci[le[ci]]
        si = offsets[li].astype(np.int64)
        traw[li] = (data[si + 1].astype(np.uint32)
                    | (data[si + 2].astype(np.uint32) << 8)
                    | (data[si + 3].astype(np.uint32) << 16)
                    | (data[si + 4].astype(np.uint32) << 24))
        t[li] = (traw[li] & np.uint32(0x1FFFFFFF)) % np.uint32(1000)
    return le, traw, t


def _measures_batch(s: pd.Series) -> tuple[np.ndarray, np.ndarray,
                                           np.ndarray]:
    """(area, cx, cy) for a WKB batch: vectorized shoelace over the
    whole batch for little-endian polygons (PolygonBatch ragged decode
    + one reduceat — the §7.3 batch path, replacing the round-2
    per-row ``Series.map(parse_wkb)`` loops), vectorized point decode
    for point centroids, per-geometry fallback only for multis /
    big-endian / malformed rows."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    pb = parse_polygon_wkb_buffer(data, offsets, validity)
    area, cx, cy = polygon_batch_area_centroid(pb, n)
    px, py, pok = parse_point_wkb_buffer(data, offsets, validity)
    cx = np.where(pok, px, cx)
    cy = np.where(pok, py, cy)
    le, _, t = _wkb_headers(data, offsets, validity)
    # LE linestrings / multipoints / multilinestrings: area 0 and NaN
    # centroid are already the defaults — nothing to decode
    handled = pb.ok | pok | (le & np.isin(t, (2, 4, 5)))
    isnull = (~validity if validity is not None
              else np.zeros(n, dtype=bool))
    # zero-length non-null rows fall through too: parse_wkb raises on
    # them exactly as the round-2 per-row path did (malformed input is
    # an error, not a silent zero)
    todo = ~handled & ~isnull
    for i in np.nonzero(todo)[0]:
        g = parse_wkb(data[offsets[i]:offsets[i + 1]].tobytes())
        area[i] = geom_area(g)
        cx[i], cy[i] = geom_centroid(g)
    area[isnull] = np.nan
    return area, cx, cy


def _st_dims_batch(s: pd.Series) -> pd.Series:
    """Dims string from the 5 header bytes only — no coordinate decode
    (round-2 st_dims full-parsed a potentially huge geometry to read
    them). Per-row fallback only for big-endian headers."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    out = np.full(n, None, dtype=object)
    le, traw, t = _wkb_headers(data, offsets, validity)
    base = traw & np.uint32(0x1FFFFFFF)
    k = base // np.uint32(1000)
    has_z = (k == 1) | (k == 3) | ((traw & np.uint32(0x80000000)) != 0)
    has_m = (k == 2) | (k == 3) | ((traw & np.uint32(0x40000000)) != 0)
    ok = le & (t >= 1) & (t <= 7)
    for mask, val in (((ok & has_z & has_m), "xyzm"),
                      ((ok & has_z & ~has_m), "xyz"),
                      ((ok & ~has_z & has_m), "xym"),
                      ((ok & ~has_z & ~has_m), "xy")):
        out[mask] = val
    isnull = (~validity if validity is not None
              else np.zeros(n, dtype=bool))
    todo = ~ok & ~isnull  # zero-length rows raise via parse_wkb
    for i in np.nonzero(todo)[0]:
        out[i] = parse_wkb(data[offsets[i]:offsets[i + 1]].tobytes()).dims
    return pd.Series(out)


def _format_coord_array(v: np.ndarray) -> np.ndarray:
    """float64[] -> str[] matching kernels.geom._fmt_num exactly:
    integral values print as integers, the rest via
    format_float_positional (per-element Python only for the
    non-integral minority)."""
    out = np.empty(v.shape[0], dtype=object)
    isint = (v == np.floor(v)) & (np.abs(v) < 1e15) & np.isfinite(v)
    if isint.any():
        out[isint] = v[isint].astype(np.int64).astype(str).astype(object)
    rest = ~isint
    if rest.any():
        # format_float_positional handles non-finite itself
        # ('nan'/'inf'/'-inf') — the same policy as _fmt_num, so the
        # vectorized and scalar WKT writers agree on every value
        out[rest] = [np.format_float_positional(x, trim="-")
                     for x in v[rest]]
    return out


def _st_npoints_batch(s: pd.Series) -> pd.Series:
    """Total coordinate count, batch: LE points/linestrings read the
    header + count word only, LE polygons ride the ragged batch decode,
    everything else falls back per row."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    out = np.zeros(n, dtype=np.int64)
    le, traw, t = _wkb_headers(data, offsets, validity)
    lens = np.diff(offsets)
    no_srid = (traw & np.uint32(0x20000000)) == 0
    pt = le & (t == 1) & no_srid & (lens >= 21)
    if pt.any():
        # POINT: 1 unless EMPTY (NaN coords)
        si = offsets[np.nonzero(pt)[0]].astype(np.int64)
        g = si[:, None] + np.arange(5, 13, dtype=np.int64)[None, :]
        x = data[g].copy().view("<f8").ravel()
        out[np.nonzero(pt)[0]] = np.where(np.isnan(x), 0, 1)
    ls = le & (t == 2) & no_srid & (lens >= 9)
    if ls.any():
        li = np.nonzero(ls)[0]
        si = offsets[li].astype(np.int64)
        cnt = (data[si + 5].astype(np.int64)
               | (data[si + 6].astype(np.int64) << 8)
               | (data[si + 7].astype(np.int64) << 16)
               | (data[si + 8].astype(np.int64) << 24))
        # validate the count word against the buffer length (using the
        # header's Z/M flags for coords-per-point) — a truncated or
        # inflated linestring must route to parse_wkb and raise, not
        # silently return the claimed count (ADVICE r3)
        lraw = traw[li]
        base = lraw & np.uint32(0x1FFFFFFF)
        k = base // np.uint32(1000)
        nd = (2
              + ((k == 1) | (k == 3)
                 | ((lraw & np.uint32(0x80000000)) != 0)).astype(np.int64)
              + ((k == 2) | (k == 3)
                 | ((lraw & np.uint32(0x40000000)) != 0)).astype(np.int64))
        good = lens[li] >= 9 + cnt * nd * 8
        out[li[good]] = cnt[good]
        ls[li[~good]] = False
    pb = parse_polygon_wkb_buffer(data, offsets, validity)
    if pb.ok.any():
        np.add.at(out, pb.poly_of_ring, pb.ring_rows)
    isnull = (~validity if validity is not None
              else np.zeros(n, dtype=bool))
    todo = ~(pt | ls | pb.ok) & ~isnull  # zero-length rows raise
    for i in np.nonzero(todo)[0]:
        g = parse_wkb(data[offsets[i]:offsets[i + 1]].tobytes())
        out[i] = g.num_coordinates()
    res = pd.Series(out.astype(np.int32))
    if isnull.any():
        res = res.astype(object)
        res[isnull] = None
    return res


def _st_astext_batch(s: pd.Series) -> pd.Series:
    """WKT text: vectorized for plain little-endian XY points (the
    web-scale shape), general formatter fallback for everything else."""
    data, offsets, validity = _series_to_wkb_buffers(s)
    n = len(offsets) - 1
    out = np.full(n, None, dtype=object)
    le, traw, _ = _wkb_headers(data, offsets, validity)
    lens = np.diff(offsets)
    fast = le & (traw == np.uint32(1)) & (lens == 21)
    fi = np.nonzero(fast)[0]
    if fi.size:
        si = offsets[fi].astype(np.int64)
        g = si[:, None] + np.arange(5, 21, dtype=np.int64)[None, :]
        wins = data[g]
        x = wins[:, :8].copy().view("<f8").ravel()
        y = wins[:, 8:].copy().view("<f8").ravel()
        nonempty = ~(np.isnan(x) | np.isnan(y))
        fj = fi[nonempty]
        if fj.size:
            xs = _format_coord_array(x[nonempty])
            ys = _format_coord_array(y[nonempty])
            out[fj] = ["POINT (" + a + " " + b + ")"
                       for a, b in zip(xs, ys)]
        fast[fi[~nonempty]] = False  # POINT EMPTY -> formatter
    isnull = (~validity if validity is not None
              else np.zeros(n, dtype=bool))
    todo = ~fast & ~isnull  # zero-length rows raise via parse_wkb
    for i in np.nonzero(todo)[0]:
        out[i] = format_wkt(parse_wkb(data[offsets[i]:offsets[i + 1]]
                                      .tobytes()))
    return pd.Series(out)


def _st_envelope_batch(s: pd.Series) -> pd.DataFrame:
    x, y, ok = wkb_batch_xy(s)
    xmin = np.where(ok, x, np.nan)
    ymin = np.where(ok, y, np.nan)
    xmax, ymax = xmin.copy(), ymin.copy()
    todo = ~ok & ~s.isna().to_numpy()
    if todo.any():
        vals = s.to_numpy(dtype=object)
        for i in np.nonzero(todo)[0]:
            g = parse_wkb(vals[i])
            e = geom_envelope(g)
            xmin[i], ymin[i], xmax[i], ymax[i] = e
    return pd.DataFrame({"xmin": xmin, "ymin": ymin,
                         "xmax": xmax, "ymax": ymax})


# ---------------------------------------------------------------------------
# lazy UDF surface
# ---------------------------------------------------------------------------
# UDF objects are created on first use, never at module import: Spark
# workers re-import this module when unpickling, and pandas_udf with a
# DDL return type needs an active session. Inner defs are closures, so
# cloudpickle ships them by value; the batch kernels above ship by module
# reference (import-safe).

_UDF_CACHE: dict = {}


def _lazy_udfs():
    if _UDF_CACHE:
        return _UDF_CACHE
    from pyspark.sql import types as T

    @pandas_udf(T.BinaryType())
    def st_point_u(lon: pd.Series, lat: pd.Series) -> pd.Series:
        """(lon, lat) -> WKB point; null/NaN input -> null."""
        return _st_point_batch(lon, lat)

    @pandas_udf(T.DoubleType())
    def st_x_u(s: pd.Series) -> pd.Series:
        x, _, ok = wkb_batch_xy(s)
        return pd.Series(np.where(ok, x, np.nan))

    @pandas_udf(T.DoubleType())
    def st_y_u(s: pd.Series) -> pd.Series:
        _, y, ok = wkb_batch_xy(s)
        return pd.Series(np.where(ok, y, np.nan))

    @pandas_udf(T.BinaryType())
    def st_geomfromtext_u(s: pd.Series) -> pd.Series:
        return s.map(lambda w: None if w is None
                     else write_wkb(parse_wkt(w)), na_action="ignore")

    @pandas_udf(T.BinaryType())
    def st_geomfromwkb_u(s: pd.Series) -> pd.Series:
        """Validate + normalize foreign WKB (big-endian / EWKB flags)
        into the engine's canonical little-endian ISO form. Identity on
        already-canonical input."""
        return s.map(lambda b: None if b is None
                     else write_wkb(parse_wkb(b)), na_action="ignore")

    @pandas_udf(T.BinaryType())
    def st_trygeomfromwkb_u(s: pd.Series) -> pd.Series:
        """Permissive twin of st_geomfromwkb: malformed bytes -> null
        instead of a task-killing exception. At web scale a handful of
        corrupt WKB rows must not fail a 100 TB job — filter the nulls,
        count them, move on."""
        def tryparse(b):
            try:
                return write_wkb(parse_wkb(b))
            except Exception:
                return None
        return s.map(tryparse, na_action="ignore")

    @pandas_udf(T.StringType())
    def st_astext_u(s: pd.Series) -> pd.Series:
        return _st_astext_batch(s)

    @pandas_udf(T.StringType())
    def st_geometrytype_u(s: pd.Series) -> pd.Series:
        return _st_geometrytype_batch(s)

    @pandas_udf(T.IntegerType())
    def st_typecode_u(s: pd.Series) -> pd.Series:
        """Feeds the distributed schema-inference agg
        (schema.infer_geoarrow_schema); see _typecode_batch."""
        return pd.Series(_typecode_batch(s))

    @pandas_udf(T.BooleanType())
    def st_isempty_u(s: pd.Series) -> pd.Series:
        codes = _typecode_batch(s)
        isnull = s.isna().to_numpy()
        out = pd.array((codes == 0) & ~isnull, dtype="boolean")
        out[isnull] = None
        return pd.Series(out, dtype="boolean")

    env_t = T.StructType([T.StructField(n, T.DoubleType())
                          for n in ("xmin", "ymin", "xmax", "ymax")])

    @pandas_udf(env_t)
    def st_envelope_u(s: pd.Series) -> pd.DataFrame:
        """WKB -> bbox struct. Materializing bboxes as plain double
        columns at extraction time is the engine's pushdown strategy
        (SURVEY.md §4.2 item 4): Catalyst pushes bbox predicates to
        Parquet because they never touch a UDF afterwards."""
        return _st_envelope_batch(s)

    @pandas_udf(T.BinaryType())
    def st_pointz_u(lon: pd.Series, lat: pd.Series,
                    z: pd.Series) -> pd.Series:
        """(lon, lat, z) -> XYZ WKB point (iso 1001), vectorized."""
        xv = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        yv = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        zv = z.to_numpy(dtype=np.float64, na_value=np.nan)
        n = xv.shape[0]
        rec = np.empty(n, dtype=np.dtype(
            [("bo", "u1"), ("typ", "<u4"),
             ("x", "<f8"), ("y", "<f8"), ("z", "<f8")]))
        rec["bo"], rec["typ"] = 1, 1001
        rec["x"], rec["y"], rec["z"] = xv, yv, zv
        data = rec.view(np.uint8)
        offs = np.arange(0, (n + 1) * 29, 29, dtype=np.int32)
        nulls = np.isnan(xv) | np.isnan(yv) | np.isnan(zv)
        return _wkb_buffer_to_bytes_series(
            data, offs, nulls if nulls.any() else None)

    @pandas_udf(T.DoubleType())
    def st_z_u(s: pd.Series) -> pd.Series:
        """Z coordinate of a point (NaN for XY/XYM points, non-points,
        empties). Vectorized fast path for little-endian iso-1001/3001
        headers; general parse for the rest."""
        data, offsets, validity = _series_to_wkb_buffers(s)
        n = len(offsets) - 1
        out = np.full(n, np.nan)
        if n == 0:
            return pd.Series(out)
        lens = np.diff(offsets)
        cand = lens >= 29
        if validity is not None:
            cand &= validity
        idx = np.nonzero(cand)[0]
        if idx.size:
            st = offsets[idx].astype(np.int64)
            bo = data[st]
            traw = (data[st + 1].astype(np.uint32)
                    | (data[st + 2].astype(np.uint32) << 8)
                    | (data[st + 3].astype(np.uint32) << 16)
                    | (data[st + 4].astype(np.uint32) << 24))
            base = traw & np.uint32(0x1FFFFFFF)
            has_z = ((base // 1000) % 2 == 1) \
                | ((traw & np.uint32(0x80000000)) != 0)
            fast = (bo == 1) & (base % np.uint32(1000) == 1) & has_z \
                & ((traw & np.uint32(0x20000000)) == 0)
            fi = idx[fast]
            if fi.size:
                g = offsets[fi].astype(np.int64)[:, None] \
                    + np.arange(21, 29, dtype=np.int64)[None]
                out[fi] = data[g].copy().view("<f8").ravel()
            # slow path only for rows that could carry z (big-endian
            # headers or z-flagged non-fast rows); LE xy rows stay NaN
            # without any per-row work
            for i in idx[~fast & (has_z | (bo != 1))]:
                gg = parse_wkb(data[offsets[i]:offsets[i + 1]].tobytes())
                if gg is not None and gg.type_id == 1 and gg.has_z \
                        and not gg.is_empty:
                    out[i] = gg.coords[0, 2]
        return pd.Series(out)

    @pandas_udf(T.StringType())
    def st_dims_u(s: pd.Series) -> pd.Series:
        """Dimensions string ('xy'/'xyz'/'xym'/'xyzm') from the WKB
        header — works for EMPTY too (unlike the calculator code,
        which collapses empties to 0). Header bytes only, vectorized."""
        return _st_dims_batch(s)

    @pandas_udf(T.DoubleType())
    def st_distance_u(a: pd.Series, b: pd.Series) -> pd.Series:
        """Planar euclidean distance in coordinate units between two
        POINT columns (NaN for non-points/empties; geodesic meters are
        the Column-expression haversine_m). np.sqrt is correctly
        rounded, so the result is cross-engine deterministic."""
        ax, ay, aok = wkb_batch_xy(a)
        bx, by, bok = wkb_batch_xy(b)
        d = np.sqrt((ax - bx) ** 2 + (ay - by) ** 2)
        return pd.Series(np.where(aok & bok, d, np.nan))

    @pandas_udf(T.DoubleType())
    def st_length_u(s: pd.Series) -> pd.Series:
        """Planar length of lineal parts (polygons/points -> 0.0,
        PostGIS ST_Length semantics)."""
        from ..kernels.ops import geom_length
        return s.map(lambda b: None if b is None
                     else geom_length(parse_wkb(b)),
                     na_action="ignore").astype("float64")

    @pandas_udf(T.IntegerType())
    def st_npoints_u(s: pd.Series) -> pd.Series:
        """Total coordinate count. Vectorized for little-endian points
        and linestrings (header + count word only); ragged batch decode
        for LE polygons; per-row parse for multis/big-endian."""
        return _st_npoints_batch(s)

    @pandas_udf(T.BinaryType())
    def st_simplify_u(s: pd.Series, tol: pd.Series) -> pd.Series:
        """Douglas-Peucker simplification (kernels.ops.geom_simplify):
        rings never drop below 4 points (original coords kept instead
        — no invalid output). Cold-path per-geometry codec; the hot
        web-scale columns are points, which pass through unchanged."""
        from ..kernels.ops import geom_simplify
        tv = tol.to_numpy(dtype=np.float64, na_value=np.nan)
        out = [None if b is None
               else write_wkb(geom_simplify(parse_wkb(bytes(b)),
                                            float(t)))
               for b, t in zip(s, tv)]
        return pd.Series(out, dtype=object)

    @pandas_udf(T.BooleanType())
    def st_intersects_u(a: pd.Series, b: pd.Series) -> pd.Series:
        """Exact ST_Intersects over two WKB columns, any geometry
        types (closed semantics — shared boundaries count; null or
        EMPTY intersects nothing -> False). Both sides are factorized
        per batch and results cached per distinct PAIR, so a join
        refine batch with few distinct polygons parses each geometry
        once (kernels.ops.geom_intersects does the dispatch)."""
        from ..kernels.ops import geom_intersects
        ca, ua = pd.factorize(a, use_na_sentinel=True)
        cb, ub = pd.factorize(b, use_na_sentinel=True)
        ga = [parse_wkb(bytes(w)) for w in ua]
        gb = [parse_wkb(bytes(w)) for w in ub]
        cache: dict[tuple[int, int], bool] = {}
        out = np.zeros(len(a), dtype=bool)
        for i in range(len(a)):
            ia, ib = ca[i], cb[i]
            if ia < 0 or ib < 0:
                continue
            key = (ia, ib)
            v = cache.get(key)
            if v is None:
                v = geom_intersects(ga[ia], gb[ib])
                cache[key] = v
            out[i] = v
        return pd.Series(out)

    @pandas_udf(T.DoubleType())
    def st_area_u(s: pd.Series) -> pd.Series:
        area, _, _ = _measures_batch(s)
        return pd.Series(area)

    cen_t = T.StructType([T.StructField("x", T.DoubleType()),
                          T.StructField("y", T.DoubleType())])

    @pandas_udf(cen_t)
    def st_centroid_u(s: pd.Series) -> pd.DataFrame:
        _, cx, cy = _measures_batch(s)
        return pd.DataFrame({"x": cx, "y": cy})

    _UDF_CACHE.update(
        st_area=st_area_u, st_centroid=st_centroid_u,
        st_point=st_point_u, st_x=st_x_u, st_y=st_y_u,
        st_geomfromtext=st_geomfromtext_u,
        st_geomfromwkb=st_geomfromwkb_u,
        st_trygeomfromwkb=st_trygeomfromwkb_u,
        st_astext=st_astext_u,
        st_geometrytype=st_geometrytype_u, st_typecode=st_typecode_u,
        st_isempty=st_isempty_u, st_envelope=st_envelope_u,
        st_pointz=st_pointz_u, st_z=st_z_u, st_dims=st_dims_u,
        st_distance=st_distance_u, st_intersects=st_intersects_u,
        st_simplify=st_simplify_u, st_length=st_length_u,
        st_npoints=st_npoints_u)
    return _UDF_CACHE


def st_point(lon, lat):
    return _lazy_udfs()["st_point"](lon, lat)


def st_x(c):
    return _lazy_udfs()["st_x"](c)


def st_y(c):
    return _lazy_udfs()["st_y"](c)


def st_geomfromtext(c):
    return _lazy_udfs()["st_geomfromtext"](c)


def st_geomfromwkb(c):
    return _lazy_udfs()["st_geomfromwkb"](c)


def st_trygeomfromwkb(c):
    return _lazy_udfs()["st_trygeomfromwkb"](c)


def st_astext(c):
    return _lazy_udfs()["st_astext"](c)


def st_geometrytype(c):
    return _lazy_udfs()["st_geometrytype"](c)


def st_typecode(c):
    return _lazy_udfs()["st_typecode"](c)


def st_isempty(c):
    return _lazy_udfs()["st_isempty"](c)


def st_envelope(c):
    return _lazy_udfs()["st_envelope"](c)


def st_area(c):
    return _lazy_udfs()["st_area"](c)


def st_centroid(c):
    return _lazy_udfs()["st_centroid"](c)


def st_pointz(lon, lat, z):
    return _lazy_udfs()["st_pointz"](lon, lat, z)


def st_z(c):
    return _lazy_udfs()["st_z"](c)


def st_dims(c):
    return _lazy_udfs()["st_dims"](c)


def st_aswkb(c):
    """Canonical ISO little-endian WKB writer (normalizes foreign
    byte order / EWKB flags) — same kernel as st_geomfromwkb, exposed
    under the reference's builder-surface name."""
    return _lazy_udfs()["st_geomfromwkb"](c)


def st_distance(a, b):
    return _lazy_udfs()["st_distance"](a, b)


def st_intersects(a, b):
    """Exact geometry-geometry intersection predicate (closed
    semantics) over two WKB columns."""
    return _lazy_udfs()["st_intersects"](a, b)


def st_simplify(c, tol):
    """Douglas-Peucker simplification of a WKB column at tolerance
    ``tol`` (Column or numeric literal)."""
    tc = tol if isinstance(tol, Column) else F.lit(float(tol))
    return _lazy_udfs()["st_simplify"](c, tc)


def st_length(c):
    """Planar length of lineal parts (0.0 for points/polygons)."""
    return _lazy_udfs()["st_length"](c)


def st_npoints(c):
    """Total coordinate count of a WKB geometry."""
    return _lazy_udfs()["st_npoints"](c)


def haversine_m(lat1, lon1, lat2, lon2):
    """Great-circle meters as a Column expression (JVM trig — round
    before comparing across engines; see kernels.ops docstring)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = (F.pow(F.sin(dlat / 2), 2)
         + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2))
    return 2 * F.lit(6371008.8) * F.asin(F.sqrt(h))
