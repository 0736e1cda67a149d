"""DataFrame-level GeoArrow encoding conversions — the reference's
builder/reader/calculator surface (geoarrow_geos.hpp:71-207) lifted to
Spark columns.

A user of the reference converts batches between GEOS geometries and the
four encodings; the Spark-native equivalent converts a DataFrame column
between WKB/WKT (flat binary/string) and the *native GeoArrow nested
layout* materialized as Spark nested types:

  point      separate    struct<x:double, y:double[, z][, m]>
  point      interleaved array<double>  (fixed width = ndim)
  linestring separate    array<struct<x,y,...>>
  polygon    separate    array<array<struct<x,y,...>>>
  multipolygon           array<array<array<struct<...>>>>
  (interleaved: the innermost struct becomes array<double>)

Conversion runs through mapInArrow: one Arrow batch in, kernels.garrow
does the layout work buffer-level, one Arrow batch out — the EP1/EP2
call protocols (SURVEY.md §3) with Spark managing the batching.
"""

from __future__ import annotations

import pyarrow as pa

from ..kernels import garrow
from ..kernels.garrow import (DEPTH, NATIVE_EXTENSIONS, from_pyarrow,
                              geoarrow_to_geoms, geoms_to_geoarrow,
                              to_pyarrow)
from ..kernels.wkb import parse_wkb, write_wkb


def spark_type_ddl(extension: str, dims: str = "xy",
                   coord_type: str = "separate") -> str:
    """DDL string of the Spark type carrying a native GeoArrow column."""
    if coord_type == "separate":
        inner = "struct<" + ", ".join(f"{d}: double" for d in dims) + ">"
    else:
        inner = "array<double>"
    t = inner
    for _ in range(DEPTH[extension]):
        t = f"array<{t}>"
    return t


def _arrow_nested_from_geoarrow(arr, coord_type: str) -> pa.Array:
    """GeoArrowArray -> pyarrow array in the *Spark-compatible* spelling
    (list<struct> / list<list<double>>; Spark has no fixed_size_list, so
    interleaved coords surface as plain list<double>)."""
    a, _ = to_pyarrow(arr, coord_type="separate" if coord_type == "separate"
                      else "interleaved")
    if coord_type == "separate":
        return a
    # rewrite fixed_size_list<double>[n] -> list<double> for Spark
    def fix(t: pa.DataType) -> pa.DataType:
        if pa.types.is_fixed_size_list(t):
            return pa.list_(pa.field("element", pa.float64(),
                                     nullable=False))
        if pa.types.is_list(t):
            return pa.list_(pa.field(t.value_field.name,
                                     fix(t.value_type), nullable=False))
        return t
    return a.cast(fix(a.type))


def to_geoarrow(df, wkb_col: str, extension: str, dims: str = "xy",
                coord_type: str = "separate", out_col: str = "geom"):
    """WKB binary column -> native GeoArrow nested column (EP1).
    The batch must be single-type (matching ``extension``); nulls pass
    through, EMPTY follows the reference conventions."""
    if extension not in NATIVE_EXTENSIONS:
        raise ValueError(f"not a native extension: {extension}")
    out_ddl = ", ".join(
        [f"`{f}` {t}" for f, t in _passthrough_fields(df, wkb_col)]
        + [f"`{out_col}` {spark_type_ddl(extension, dims, coord_type)}"])

    def fn(batches):
        for b in batches:
            cols = {n: b.column(n) for n in b.schema.names}
            wkb = cols.pop(wkb_col)
            geoms = [parse_wkb(v) if v is not None else None
                     for v in wkb.to_pylist()]
            arr = geoms_to_geoarrow(geoms, extension, dims=dims)
            out = _arrow_nested_from_geoarrow(arr, coord_type)
            names = list(cols.keys()) + [out_col]
            yield pa.RecordBatch.from_arrays(
                list(cols.values()) + [out], names=names)

    return df.mapInArrow(fn, schema=out_ddl)


def from_geoarrow(df, geom_col: str, extension: str,
                  out_col: str = "wkb", dims: str | None = None):
    """Native GeoArrow nested column -> WKB binary column (EP2).

    ``dims`` is required to disambiguate 3-wide interleaved coords:
    Spark's list<double> spelling carries no dims metadata, so a width-3
    coord could be XYZ or XYM — inferring XYZ would silently relabel M
    values as Z. Separate-coord (struct) input carries the dims in its
    field names and ignores the parameter."""
    out_ddl = ", ".join(
        [f"`{f}` {t}" for f, t in _passthrough_fields(df, geom_col)]
        + [f"`{out_col}` binary"])

    def fn(batches):
        for b in batches:
            cols = {n: b.column(n) for n in b.schema.names}
            nested = cols.pop(geom_col)
            arr = _geoarrow_from_spark_arrow(nested, extension, dims=dims)
            geoms = geoarrow_to_geoms(arr)
            wkb = pa.array([write_wkb(g) for g in geoms],
                           type=pa.binary())
            names = list(cols.keys()) + [out_col]
            yield pa.RecordBatch.from_arrays(
                list(cols.values()) + [wkb], names=names)

    return df.mapInArrow(fn, schema=out_ddl)


def _geoarrow_from_spark_arrow(a: pa.Array, extension: str,
                               dims: str | None = None):
    """Spark's arrow spelling back to a kernels GeoArrowArray. Handles
    both coord spellings (struct / list<double>). For interleaved input
    ``dims`` resolves width-3 ambiguity (xyz vs xym); when omitted, a
    3-wide column raises rather than silently guessing xyz."""
    import numpy as np
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    # walk to the innermost type to detect coord spelling
    t = a.type
    depth = 0
    while pa.types.is_list(t):
        depth += 1
        t = t.value_type
    if pa.types.is_struct(t):
        return from_pyarrow(a, f"geoarrow.{extension}")
    # interleaved spelled as one extra list level of double
    exp_depth = DEPTH[extension] + 1
    if depth != exp_depth or not pa.types.is_float64(t):
        raise ValueError(f"unexpected layout for {extension}: {a.type}")
    validity = None
    if a.null_count:
        validity = ~np.asarray(a.is_null())
    offsets = []
    cur = a
    for _ in range(DEPTH[extension]):
        offsets.append(np.asarray(cur.offsets, dtype=np.int32))
        cur = cur.values
    # innermost list = one coord per entry; width from first non-empty
    co = np.asarray(cur.offsets, dtype=np.int64)
    widths = np.diff(co)
    nd = int(widths[widths > 0][0]) if (widths > 0).any() else \
        (len(dims) if dims else 2)
    if dims is not None:
        if len(dims) != nd:
            raise ValueError(
                f"declared dims {dims!r} (width {len(dims)}) but coord "
                f"width is {nd}")
    elif nd == 3:
        raise ValueError(
            "3-wide interleaved coords are ambiguous (xyz vs xym): pass "
            "dims='xyz' or dims='xym' to from_geoarrow")
    else:
        dims = {2: "xy", 4: "xyzm"}[nd]
    flat = np.asarray(cur.values, dtype=np.float64)
    if DEPTH[extension] == 0:
        # a point holds one coord row per slot, but a NULL slot's list
        # is empty here: scatter each slot from its own offset
        coords = np.full((len(a), nd), np.nan)
        has = widths == nd
        coords[has] = flat[co[:-1][has, None] + np.arange(nd)]
    else:
        coords = flat.reshape(-1, nd)
    return garrow.GeoArrowArray(extension, dims=dims, length=len(a),
                                validity=validity, offsets=offsets,
                                coords=coords)


def _passthrough_fields(df, drop_col: str):
    for f in df.schema.fields:
        if f.name != drop_col:
            yield f.name, f.dataType.simpleString()


def infer_encoding(df, wkb_col: str, encoding: str = "geoarrow"
                   ) -> tuple[str, str | None]:
    """EP3 end-to-end on a DataFrame: distributed type-code agg + the
    reference promotion lattices -> (extension_name, dims|None)."""
    from .geometry import st_typecode
    from ..kernels.schema import infer_geoarrow_schema
    codes = df.select(st_typecode(wkb_col).alias("code"))
    return infer_geoarrow_schema(codes, "code", encoding)
