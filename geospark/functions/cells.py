"""Hierarchical grid-cell index (the engine's H3/S2-style tiling).

Design (documented deviation from true H3/S2, SURVEY.md §7.3): a
hierarchical quadtree over the equirectangular lat/lon plane. At
resolution ``r`` the world is a 2^r x 2^r grid; a cell id packs
``(r << 56) | (y << r) | x`` into one int64. Chosen over cube-face S2 /
icosahedral H3 because:

  * parent/child/neighbor algebra is exact integer bit math — identical
    in NumPy, Spark Column expressions, and ANSI SQL (the DuckDB oracle
    reproduces cell assignment with plain arithmetic);
  * the whole encode path is **pure Spark column expressions** — no UDF,
    whole-stage codegen, Catalyst can constant-fold and push down;
  * hierarchy containment is exact (child strictly within parent), which
    the broadcast-then-refine join relies on.

The tradeoffs vs S2 (area distortion near poles, no Hilbert locality)
don't affect join correctness — only cell-size uniformity, which the
resolution-selection heuristic compensates for.

Reference tie-in: cell ids play the role the GeoArrow *type/schema* system
plays in the reference — the batch-level organizing key; encode consumes
the WKB point fast path (wkb.py) at Common-Crawl scale.

MAX_RES = 26 (2*26 + 7 bits of resolution < 63; ~60cm cells at equator).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 56


# ---------------------------------------------------------------------------
# NumPy twin (used inside pandas UDFs, e.g. polygon covering)
# ---------------------------------------------------------------------------

def xy_np(lat: np.ndarray, lon: np.ndarray, res: int
          ) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
    return (np.clip(x, 0, n - 1).astype(np.int64),
            np.clip(y, 0, n - 1).astype(np.int64))


def encode_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = xy_np(lat, lon, res)
    return (np.int64(res) << _RES_SHIFT) | (y << res) | x


def decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (res, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    mask = (np.int64(1) << res) - 1
    x = cell & mask
    y = (cell >> res) & mask
    return res, x, y


def cell_bounds_np(cell: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lon_min, lat_min, lon_max, lat_max)."""
    res, x, y = decode_np(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_min = y / n * 180.0 - 90.0
    lat_max = (y + 1) / n * 180.0 - 90.0
    return lon_min, lat_min, lon_max, lat_max


def neighbors_np(cell: int, ring: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance ``ring`` (incl. self), with
    longitude wraparound; latitude edges clamp (no polar wrap)."""
    res, x, y = decode_np(np.asarray([cell]))
    res, x, y = int(res[0]), int(x[0]), int(y[0])
    n = 1 << res
    dx, dy = np.meshgrid(np.arange(-ring, ring + 1),
                         np.arange(-ring, ring + 1))
    xs = (x + dx.ravel()) % n
    ys = y + dy.ravel()
    keep = (ys >= 0) & (ys < n)
    xs, ys = xs[keep].astype(np.int64), ys[keep].astype(np.int64)
    out = (np.int64(res) << _RES_SHIFT) | (ys << res) | xs
    return np.unique(out)


def cover_bbox_np(lon_min: float, lat_min: float, lon_max: float,
                  lat_max: float, res: int) -> np.ndarray:
    """All cells at ``res`` intersecting the bbox (inclusive edges)."""
    n = 1 << res
    x0, y0 = xy_np(np.asarray([lat_min]), np.asarray([lon_min]), res)
    x1, y1 = xy_np(np.asarray([lat_max]), np.asarray([lon_max]), res)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1, dtype=np.int64)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return ((np.int64(res) << _RES_SHIFT) | (gy.ravel() << res)
            | gx.ravel())


def cover_polygon_np(rings: list[np.ndarray], res: int,
                     exact_interior: bool = True) -> np.ndarray:
    """Cells at ``res`` that (may) intersect the polygon: bbox cover
    filtered by cell-center-in-polygon OR polygon-vertex-in-cell OR
    edge-crossing. Conservative (superset) — the join's exact ray-cast
    refine removes false positives, so covering only needs to never
    *miss* a cell that contains a matching point... strictly, a cell
    intersecting the polygon must be kept. We keep any bbox cell whose
    rectangle intersects any edge or whose center is inside, plus cells
    containing vertices; a rectangle fully inside the polygon with no
    edge crossing is caught by the center test."""
    from ..kernels.ops import point_in_rings, seg_rect_intersect
    ext = rings[0]
    lon_min, lat_min = ext[:, 0].min(), ext[:, 1].min()
    lon_max, lat_max = ext[:, 0].max(), ext[:, 1].max()
    cells = cover_bbox_np(lon_min, lat_min, lon_max, lat_max, res)
    if not exact_interior or cells.size <= 4:
        return cells
    clon_min, clat_min, clon_max, clat_max = cell_bounds_np(cells)
    cx = (clon_min + clon_max) / 2
    cy = (clat_min + clat_max) / 2
    keep = point_in_rings(cx, cy, rings)
    # edge-crossing test per cell (vectorized over edges x cells)
    for ring in rings:
        keep |= seg_rect_intersect(ring, clon_min, clat_min,
                                   clon_max, clat_max)
    return cells[keep]


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side; no UDF — whole-stage codegen)
# ---------------------------------------------------------------------------

def _F():
    from pyspark.sql import functions as F
    return F


def cell_encode(lat, lon, res: int):
    """Column expr: (lat, lon) -> int64 cell id at resolution ``res``.
    Pure built-ins (floor + shiftleft) — whole-stage codegen, no UDF.
    NOTE: all id arithmetic is integer shifts, never double division —
    cell ids exceed 2^53 and would lose precision in doubles."""
    F = _F()
    n = 1 << res
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    x = F.least(F.lit(n - 1).cast("long"), F.greatest(
        F.lit(0).cast("long"),
        F.floor((lonc + F.lit(180.0)) / F.lit(360.0) * F.lit(n))))
    y = F.least(F.lit(n - 1).cast("long"), F.greatest(
        F.lit(0).cast("long"),
        F.floor((latc + F.lit(90.0)) / F.lit(180.0) * F.lit(n))))
    return (F.shiftleft(F.lit(res).cast("long"), _RES_SHIFT)
            + F.shiftleft(y, res) + x)


def cell_parent(cell, res: int, steps: int = 1):
    """Column expr: parent cell id. ``res`` is the child resolution
    (static, as in all our pipelines — resolution is a plan-time choice)."""
    F = _F()
    c = F.col(cell) if isinstance(cell, str) else cell
    r2 = res - steps
    mask = (1 << res) - 1
    x = c.bitwiseAND(F.lit(mask))
    y = F.shiftright(c, res).bitwiseAND(F.lit(mask))
    return (F.shiftleft(F.lit(r2).cast("long"), _RES_SHIFT)
            + F.shiftleft(F.shiftright(y, steps), r2)
            + F.shiftright(x, steps))


def cell_encode_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The SAME cell id as ANSI SQL text — the DuckDB oracle twin of
    cell_encode. Keep the two in lockstep (test_cells cross-checks)."""
    n = 1 << res
    x = (f"least({n - 1}, greatest(0, "
         f"cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint)))")
    y = (f"least({n - 1}, greatest(0, "
         f"cast(floor((({lat_expr}) + 90.0) / 180.0 * {n}) as bigint)))")
    return (f"(cast({res} as bigint) * {1 << _RES_SHIFT} "
            f"+ {y} * {n} + {x})")


def cell_parent_sql(cell_expr: str, res: int, steps: int = 1) -> str:
    r2 = res - steps
    n, mask = 1 << res, (1 << res) - 1
    x = f"(({cell_expr}) & {mask})"
    y = f"((({cell_expr}) // {n}) & {mask})"
    return (f"(cast({r2} as bigint) * {1 << _RES_SHIFT} "
            f"+ ({y} // {1 << steps}) * {1 << r2} + ({x} // {1 << steps}))")


# ---------------------------------------------------------------------------
# Z-order (Morton) keys: spatial data layout
# ---------------------------------------------------------------------------
# At 100 TB the cheapest spatial filter is the one the scan never reads:
# sorting/clustering files by an interleaved-bit key gives every parquet
# row group a tight lat/lon envelope, so min/max row-group statistics
# prune bbox predicates before any cell or geometry work (the same trick
# Delta/Iceberg OPTIMIZE ZORDER applies). The key is pure bit math —
# Column expr, NumPy and SQL twins kept in lockstep like cell ids.

def zorder_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """NumPy twin: interleave res bits of x (even positions) and y
    (odd positions)."""
    x, y = xy_np(lat, lon, res)
    out = np.zeros(x.shape[0], dtype=np.int64)
    for i in range(res):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def zorder_key(lat, lon, res: int = 12):
    """Column expr: Morton key at ``res`` bits/axis (default 12 ->
    24-bit key, ~10km cells — enough locality for row-group pruning;
    the key is a SORT key, not an identity, so coarseness only affects
    clustering quality). Pure shifts/masks, whole-stage codegen."""
    F = _F()
    n = 1 << res
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    x = F.least(F.lit(n - 1).cast("long"), F.greatest(
        F.lit(0).cast("long"),
        F.floor((lonc + F.lit(180.0)) / F.lit(360.0) * F.lit(n))))
    y = F.least(F.lit(n - 1).cast("long"), F.greatest(
        F.lit(0).cast("long"),
        F.floor((latc + F.lit(90.0)) / F.lit(180.0) * F.lit(n))))
    out = F.lit(0).cast("long")
    for i in range(res):
        out = out + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                                2 * i)
        out = out + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                                2 * i + 1)
    return out


def zorder_key_sql(lat_expr: str, lon_expr: str, res: int = 12) -> str:
    """DuckDB twin of zorder_key (same clamp, same interleave)."""
    n = 1 << res
    x = (f"least({n - 1}, greatest(0, "
         f"cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint)))")
    y = (f"least({n - 1}, greatest(0, "
         f"cast(floor((({lat_expr}) + 90.0) / 180.0 * {n}) as bigint)))")
    terms = []
    for i in range(res):
        terms.append(f"((({x}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def write_zordered(df, path: str, *, lat_col: str = "lat",
                   lon_col: str = "lon", res: int = 12,
                   n_files: int | None = None, curve: str = "morton"):
    """Write ``df`` as parquet clustered by a space-filling-curve key:
    repartitionByRange on the key (range partitioner -> each output
    file owns a contiguous key span) + sortWithinPartitions (-> row
    groups inside a file are tight envelopes). After this, any bbox
    predicate over lat/lon prunes at BOTH the file level (partition
    range) and the row-group level (column min/max stats).

    ``curve``: "morton" (Z-order, default) or "hilbert" — Hilbert
    ranges cover tighter bboxes (every curve step is a grid neighbor),
    so the same bbox query touches fewer files; measured at sf0.01 the
    avg 100-row page bbox is 5725 vs 9073 deg^2 (test-pinned)."""
    F = _F()
    if curve == "hilbert":
        out = (hilbert_encode(df, lat_col, lon_col, order=min(res, 16),
                              out_col="_zkey"))
    elif curve == "morton":
        zk = zorder_key(lat_col, lon_col, res).alias("_zkey")
        out = df.withColumn("_zkey", zk)
    else:
        raise ValueError(f"curve={curve!r} (want 'morton' or 'hilbert')")
    parts = [F.col("_zkey")]
    w = (out.repartitionByRange(*([n_files] if n_files else []), *parts)
         .sortWithinPartitions("_zkey"))
    w.write.mode("overwrite").parquet(path)
    return path


def cell_neighbors_explode(df, res: int, *, cell_col: str = "cell",
                           ring: int = 1):
    """Explode each cell into its Chebyshev ``ring`` neighborhood
    (incl. self) as a `_neighbor` column — longitude wraps, latitude
    edges clamp (no polar wrap), exactly neighbors_np's contract
    including its np.unique dedup: when the ring spans the whole grid
    width (2*ring+1 >= 2^res, coarse resolutions) the x-offsets are
    emitted once per residue instead of once per dx, so wrap
    collisions never produce duplicate neighbor rows (ADVICE r3).
    Pure column expressions (sequence + pmod bit math, whole-stage
    codegen); the k-ring primitive under kNN fanout and cover
    expansion, exposed as a standalone operator."""
    F = _F()
    n = 1 << res
    mask = n - 1
    # x wraps mod n: offsets beyond a full grid width would revisit
    # residues, so cap the dx range to one full sweep (each residue
    # exactly once). y clamps, so dy can never collide.
    if 2 * ring + 1 >= n:
        dx_lo, dx_hi = 0, n - 1
    else:
        dx_lo, dx_hi = -ring, ring
    c = F.col(cell_col)
    x = c.bitwiseAND(F.lit(mask))
    y = F.shiftright(c, res).bitwiseAND(F.lit(mask))
    out = (df
           .withColumn("_dx", F.explode(F.sequence(F.lit(dx_lo),
                                                   F.lit(dx_hi))))
           .withColumn("_dy", F.explode(F.sequence(F.lit(-ring),
                                                   F.lit(ring))))
           .withColumn("_nx", F.pmod(x + F.col("_dx"), F.lit(n)))
           .withColumn("_ny", y + F.col("_dy"))
           .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
           .withColumn("_neighbor",
                       F.shiftleft(F.lit(res).cast("long"), _RES_SHIFT)
                       + F.shiftleft(F.col("_ny").cast("long"), res)
                       + F.col("_nx").cast("long"))
           .drop("_dx", "_dy", "_nx", "_ny"))
    return out


def cell_neighbors_sql(cell_expr: str, res: int, ring: int = 1) -> str:
    """DuckDB twin of cell_neighbors_explode for a single cell column:
    a FROM-clause fragment producing `neighbor` via generate_series
    cross joins (same wrap/clamp/residue-dedup arithmetic)."""
    n = 1 << res
    mask = n - 1
    dx_lo, dx_hi = (0, n - 1) if 2 * ring + 1 >= n else (-ring, ring)
    x = f"(({cell_expr}) & {mask})"
    y = f"((({cell_expr}) // {n}) & {mask})"
    return (
        f"SELECT cast({res} as bigint) * {1 << _RES_SHIFT} "
        f"+ (({y}) + dy.g) * {n} "
        f"+ ((({x}) + dx.g) % {n} + {n}) % {n} AS neighbor "
        f"FROM generate_series({dx_lo}, {dx_hi}) dx(g), "
        f"generate_series(-{ring}, {ring}) dy(g) "
        f"WHERE ({y}) + dy.g >= 0 AND ({y}) + dy.g < {n}")


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_char_exprs(lx: str, ly: str, precision: int,
                        dialect: str) -> list[str]:
    """One base32-char expression per geohash position, generated for
    both dialects from the same interleaving: stream bit i is a
    LONGITUDE bit for even i, latitude for odd (the geohash standard),
    MSB first. ``lx``/``ly`` are integer cell indices with
    ceil(5p/2) / floor(5p/2) bits respectively."""
    lonb = (5 * precision + 1) // 2
    latb = (5 * precision) // 2

    def bit(src, shift):
        if dialect == "spark":
            return f"(shiftright({src},{shift}) & 1)"
        return f"(({src} >> {shift}) & 1)"

    chars = []
    for j in range(precision):
        terms = []
        for b in range(5):
            i = 5 * j + b
            src, nbits = (lx, lonb) if i % 2 == 0 else (ly, latb)
            expr = bit(src, nbits - 1 - i // 2)
            weight = 1 << (4 - b)
            terms.append(f"{expr}*{weight}" if weight > 1 else expr)
        code = "(" + "+".join(terms) + ")"
        chars.append(f"substr('{_GEOHASH32}', CAST({code} AS INT) + 1, 1)")
    return chars


def geohash_encode(df, lat_col: str, lon_col: str, *,
                   precision: int = 6, out_col: str = "geohash"):
    """Standard geohash (base32, lon-first bit interleave) as pure
    generated bit arithmetic — engine-exact because the only float ops
    are (x+off)/span*2^bits then floor, each IEEE-deterministic for
    identical input doubles (the tile_bounds precedent). Map-only; at
    100 TB this is a scan-side projection like cell_encode, and the
    string key prefix-ranges exactly like the integer Z-order key."""
    from pyspark.sql import functions as F
    lonb = (5 * precision + 1) // 2
    latb = (5 * precision) // 2
    lx = (f"CAST(floor(least(greatest(({lon_col} + 180.0) / 360.0 "
          f"* {1 << lonb}.0, 0.0), {(1 << lonb) - 1}.0)) AS BIGINT)")
    ly = (f"CAST(floor(least(greatest(({lat_col} + 90.0) / 180.0 "
          f"* {1 << latb}.0, 0.0), {(1 << latb) - 1}.0)) AS BIGINT)")
    t = df.withColumn("_ghx", F.expr(lx)).withColumn("_ghy", F.expr(ly))
    chars = _geohash_char_exprs("_ghx", "_ghy", precision, "spark")
    return (t.withColumn(out_col, F.expr("concat(" + ",".join(chars)
                                         + ")"))
            .drop("_ghx", "_ghy"))


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 6,
                from_sql: str = "") -> str:
    """DuckDB twin of geohash_encode: SELECT-fragment builder — returns
    a full SELECT over ``from_sql`` producing every input column plus
    `geohash`, computing lx/ly once in a subquery."""
    lonb = (5 * precision + 1) // 2
    latb = (5 * precision) // 2
    lx = (f"CAST(floor(least(greatest(({lon_expr} + 180.0) / 360.0 "
          f"* {1 << lonb}.0, 0.0), {(1 << lonb) - 1}.0)) AS BIGINT)")
    ly = (f"CAST(floor(least(greatest(({lat_expr} + 90.0) / 180.0 "
          f"* {1 << latb}.0, 0.0), {(1 << latb) - 1}.0)) AS BIGINT)")
    chars = _geohash_char_exprs("_ghx", "_ghy", precision, "duckdb")
    return (f"SELECT * EXCLUDE (_ghx, _ghy), "
            f"concat({', '.join(chars)}) AS geohash "
            f"FROM (SELECT *, {lx} AS _ghx, {ly} AS _ghy "
            f"FROM ({from_sql}))")


# ---------------------------------------------------------------------------
# Hilbert curve layout keys
# ---------------------------------------------------------------------------

def _hilbert_step(bit: int, n: int, dialect: str):
    """One Hilbert xy2d round (classic quadrant fold: d += s^2 *
    gray(rx,ry), then flip/swap) as (d', x', y') formula strings over
    the running _hx/_hy/_hd names — ONE template rendered for both
    dialects (only the bit-test syntax differs), so the engines cannot
    drift on the rotation arithmetic."""
    s = 1 << bit
    if dialect == "spark":
        rx, ry = (f"(shiftright(_hx, {bit}) & 1)",
                  f"(shiftright(_hy, {bit}) & 1)")
    else:
        rx, ry = f"((_hx >> {bit}) & 1)", f"((_hy >> {bit}) & 1)"
    dstep = (f"_hd + {s * s} * (CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
             f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 1 THEN 2 ELSE 3 END)")
    nx = (f"(CASE WHEN {ry} = 1 THEN _hx WHEN {rx} = 0 THEN _hy "
          f"ELSE {n - 1} - _hy END)")
    ny = (f"(CASE WHEN {ry} = 1 THEN _hy WHEN {rx} = 0 THEN _hx "
          f"ELSE {n - 1} - _hx END)")
    return dstep, nx, ny


def _hilbert_quant(lat_expr: str, lon_expr: str, order: int):
    """(x, y) integer-cell quantization strings — identical text in
    both dialects (floor/least/greatest/CAST exist in each), the
    geohash/zorder clamp convention incl. +90/+180 to the last cell."""
    n = 1 << order
    ix = (f"CAST(floor(least(greatest((({lon_expr}) + 180.0) / 360.0 "
          f"* {n}.0, 0.0), {n - 1}.0)) AS BIGINT)")
    iy = (f"CAST(floor(least(greatest((({lat_expr}) + 90.0) / 180.0 "
          f"* {n}.0, 0.0), {n - 1}.0)) AS BIGINT)")
    return ix, iy


def hilbert_encode(df, lat_col: str, lon_col: str, *, order: int = 8,
                   out_col: str = "hkey"):
    """Hilbert-curve layout key at ``order`` bits/axis — the
    locality-preserving upgrade over the Morton key (every curve step
    is a grid NEIGHBOR, so equal-count key ranges cover tighter
    bounding boxes than Z-order's quadrant jumps; this is the
    cluster-by key Delta/Iceberg OPTIMIZE uses for multi-dimensional
    layout). Rendered as ``order`` chained projections (one quadrant
    fold each) — all integer CASE/shift arithmetic, one map-only
    whole-stage-codegen stage, no shuffle."""
    from pyspark.sql import functions as F
    n = 1 << order
    ix, iy = _hilbert_quant(lat_col, lon_col, order)
    t = df.select("*", F.expr(ix).alias("_hx"), F.expr(iy).alias("_hy"),
                  F.expr("CAST(0 AS BIGINT)").alias("_hd"))
    keep = df.columns
    for bit in range(order - 1, -1, -1):
        dstep, nx, ny = _hilbert_step(bit, n, "spark")
        t = t.select(*keep, F.expr(nx).alias("_hx"),
                     F.expr(ny).alias("_hy"), F.expr(dstep).alias("_hd"))
    return t.select(*keep, F.col("_hd").alias(out_col))


def hilbert_sql(lat_expr: str, lon_expr: str, from_sql: str, *,
                order: int = 8, out_col: str = "hkey") -> str:
    """DuckDB twin of hilbert_encode: the same quantization and the
    same per-round fold templates, nested one subselect per round."""
    n = 1 << order
    ix, iy = _hilbert_quant(lat_expr, lon_expr, order)
    sql = (f"SELECT *, {ix} AS _hx, {iy} AS _hy, "
           f"CAST(0 AS BIGINT) AS _hd FROM ({from_sql})")
    for bit in range(order - 1, -1, -1):
        dstep, nx, ny = _hilbert_step(bit, n, "duckdb")
        sql = (f"SELECT * EXCLUDE (_hx, _hy, _hd), {nx} AS _hx, "
               f"{ny} AS _hy, {dstep} AS _hd FROM ({sql})")
    return (f"SELECT * EXCLUDE (_hx, _hy, _hd), _hd AS {out_col} "
            f"FROM ({sql})")


def hilbert_d_np(x, y, order: int):
    """Vectorized NumPy reference of the same xy2d fold (the test
    ground truth, zorder_np's role)."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    n = 1 << order
    d = np.zeros_like(x)
    for bit in range(order - 1, -1, -1):
        s = np.int64(1) << bit
        rx = ((x >> bit) & 1).astype(np.int64)
        ry = ((y >> bit) & 1).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate: ry==0 -> (rx==1 ? flip both with n-1 : id) then swap
        flip = (ry == 0) & (rx == 1)
        x2 = np.where(flip, n - 1 - x, x)
        y2 = np.where(flip, n - 1 - y, y)
        x, y = (np.where(ry == 0, y2, x2).astype(np.int64),
                np.where(ry == 0, x2, y2).astype(np.int64))
    return d


# ---------------------------------------------------------------------------
# Smallest enclosing cell for an extent (bbox covering key)
# ---------------------------------------------------------------------------
# The single-cell extent key every spatial index needs for NON-point
# rows: a bbox maps to the deepest grid cell that still contains it
# whole (the longest common ancestor of its corner cells), so box
# tables get a cell column that composes with the point family —
# equality-partition boxes by enc_cell ancestors, prune scans by key
# prefix, or bucket an extent join. The S2 "one-cell covering" /
# XZ-index idea re-expressed on the repo's quadkey grid.

def _blen_case(v_expr: str, res: int) -> str:
    """Engine-neutral bit-length of a value in [0, 2^res) as a CASE
    chain (highest set bit + 1; 0 -> 0) — no log, no loop."""
    arms = " ".join(
        f"WHEN ({v_expr}) >= {1 << (b - 1)} THEN {b}"
        for b in range(res, 0, -1))
    return f"(CASE {arms} ELSE 0 END)"


def _xy_idx_sql(lo_expr: str, span: float, shift: float,
                res: int) -> str:
    n = 1 << res
    return (f"least({n - 1}, greatest(0, "
            f"cast(floor((({lo_expr}) + {shift}) / {span} * {n}) "
            f"as bigint)))")


def enclosing_cell_sql(xmin: str, ymin: str, xmax: str, ymax: str,
                       res: int) -> str:
    """SQL text (valid in BOTH Spark SQL and DuckDB) computing the
    struct-free columns of the smallest enclosing cell of a bbox at
    max resolution ``res``: emits a SELECT-fragment
    ``enc_res, enc_cell, nx, ny`` given corner lon/lat expressions.
    nx/ny are the res-level index spans (the covering size the
    single-cell key trades against). Corner indices clamp exactly as
    cell_encode; a degenerate box (corners in one res-cell) returns
    that cell."""
    return ", ".join(
        enclosing_cell_exprs(xmin, ymin, xmax, ymax, res))


def enclosing_cell_exprs(xmin: str, ymin: str, xmax: str, ymax: str,
                         res: int) -> list:
    """The same four aliased column expressions as a list — Spark
    consumes them via ``selectExpr(*exprs)``, the DuckDB twin via
    the comma-joined ``enclosing_cell_sql`` — one text source, both
    engines (the ADVICE-r4 single-source convention). Common-prefix
    length comes XOR-free: for BIGINTs a, b the value
    a + b - 2*(a & b) equals a XOR b, and the bit-length CASE chain
    needs no log; the shift-by-s is floor(a / 2^s) spelled via
    floor() because Spark floor-divides with `div` and DuckDB with
    `//` — exact here since indices are < 2^res << 2^53."""
    x1 = _xy_idx_sql(xmin, 360.0, 180.0, res)
    x2 = _xy_idx_sql(xmax, 360.0, 180.0, res)
    y1 = _xy_idx_sql(ymin, 180.0, 90.0, res)
    y2 = _xy_idx_sql(ymax, 180.0, 90.0, res)
    dx = f"(({x1}) + ({x2}) - 2 * (({x1}) & ({x2})))"
    dy = f"(({y1}) + ({y2}) - 2 * (({y1}) & ({y2})))"
    s = (f"greatest({_blen_case(dx, res)}, {_blen_case(dy, res)})")
    enc_res = f"({res} - {s})"
    pow_s = (f"(CASE {' '.join(f'WHEN {s} = {k} THEN {1 << k}' for k in range(res + 1))} END)")
    pow_r = (f"(CASE {' '.join(f'WHEN {enc_res} = {k} THEN {1 << k}' for k in range(res + 1))} END)")
    cell = (f"(cast({enc_res} as bigint) * {1 << _RES_SHIFT} "
            f"+ cast(floor(({y1}) / {pow_s}) as bigint) * {pow_r} "
            f"+ cast(floor(({x1}) / {pow_s}) as bigint))")
    return [f"CAST({enc_res} AS BIGINT) AS enc_res",
            f"CAST({cell} AS BIGINT) AS enc_cell",
            f"CAST(({x2}) - ({x1}) + 1 AS BIGINT) AS nx",
            f"CAST(({y2}) - ({y1}) + 1 AS BIGINT) AS ny"]
