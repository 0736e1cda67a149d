"""Seeded input generation and reference answers for the benchmark.

Everything here is NumPy/pyarrow/plain Python: no Spark and no geospark
operator runs while inputs or references are built, so a reference can
never inherit a defect of the code it checks. The one geospark import
is ``synth.zone_defs``, the WKT of the flagship's zone table (an input,
not an operator).

A workload's inputs are ``n_warm + n_timed`` shards of the same size and
distribution. Each shard is a directory of multi-file parquet, so no
pass can reuse another pass's result. The reference answer for every
shard is computed here, once per (workload, seed, size), and cached next
to the inputs in ``<cache>/<workload>-s<seed>-<size>/``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import struct
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per shard and shard counts per workload. ``n_warm`` shards feed
# the warm-up passes, ``n_timed`` the timed ones (more than a run's
# seconds can use). Warm-up shards have the full size: quarter-size ones
# paid the one-time costs (JVM warm-up, code generation, Python worker
# start) 10 s sooner on a 4-vCPU host, but left the first timed pass up
# to 1.5x slower than the second. ``tiny`` is for the smoke tests.
SIZES = {
    "full": {
        "flagship": {"pages": 40_000, "n_warm": 1, "n_timed": 6},
        "polygon_join": {"points": 40_000, "small_side": 6,
                         "large_side": 150, "n_warm": 1, "n_timed": 4},
        "geoarrow_codec": {"rows_per_group": 1_500, "n_warm": 2,
                           "n_timed": 6},
        "near_dup": {"docs": 3_000, "boilerplate": 1_100, "n_warm": 2,
                     "n_timed": 8},
    },
    "tiny": {
        "flagship": {"pages": 1_500, "n_warm": 1, "n_timed": 2},
        "polygon_join": {"points": 2_000, "small_side": 4,
                         "large_side": 40, "n_warm": 1, "n_timed": 2},
        "geoarrow_codec": {"rows_per_group": 60, "n_warm": 1, "n_timed": 2},
        "near_dup": {"docs": 300, "boilerplate": 1_010, "n_warm": 1,
                     "n_timed": 2},
    },
}
N_FILES = 4  # parquet files per shard directory

# Hotspot mixture shared by the page and point generators: 12 cities,
# Zipf-weighted (w_k ~ 1/k^1.2), plus a uniform background share.
CITIES = np.array([
    (40.71, -74.00), (51.51, -0.13), (35.68, 139.69), (48.86, 2.35),
    (37.77, -122.42), (52.52, 13.41), (-23.55, -46.63), (19.43, -99.13),
    (28.61, 77.21), (39.90, 116.40), (-33.87, 151.21), (55.75, 37.62),
])
_W = 1.0 / np.arange(1, 13) ** 1.2
CITY_CDF = np.cumsum(_W / _W.sum())
LANGS = np.array(["en", "de", "fr", "es", "pt", "ja"])
_LW = 1.0 / np.arange(1, 7) ** 1.1
LANG_CDF = np.cumsum(_LW / _LW.sum())
FLAGSHIP_RES = 8


def _rng(seed: int, *key) -> np.random.Generator:
    """Independent stream per (seed, key...): shard k of a seed never
    depends on how many other shards exist."""
    h = hashlib.sha256(repr((seed,) + key).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _hotspot_points(rng, n: int, sigma: float, bg_frac: float):
    city = np.minimum(np.searchsorted(CITY_CDF, rng.random(n),
                                      side="right"), len(CITIES) - 1)
    lat = CITIES[city, 0] + rng.normal(0.0, sigma, n)
    lon = CITIES[city, 1] + rng.normal(0.0, sigma, n)
    bg = rng.random(n) < bg_frac
    lat = np.where(bg, rng.uniform(-85.0, 85.0, n), np.clip(lat, -89.9, 89.9))
    lon = np.where(bg, rng.uniform(-180.0, 180.0, n),
                   ((lon + 180.0) % 360.0) - 180.0)
    return lat, lon


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"),
                       row_group_size=max(1, part.num_rows // 2))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# Geometry: WKB writer (ISO, little-endian) and a ray cast, both our own
# ---------------------------------------------------------------------------

def _iso(t: int, z: bool) -> bytes:
    return struct.pack("<BI", 1, t + (1000 if z else 0))


def wkb_point(c: np.ndarray | None, z: bool) -> bytes:
    nd = 3 if z else 2
    if c is None:  # EMPTY
        return _iso(1, z) + struct.pack(f"<{nd}d", *([float("nan")] * nd))
    return _iso(1, z) + np.asarray(c, "<f8").tobytes()


def wkb_line(c: np.ndarray, z: bool) -> bytes:
    return _iso(2, z) + struct.pack("<I", len(c)) + np.asarray(
        c, "<f8").tobytes()


def _rings_bytes(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<I", len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(np.asarray(r, "<f8").tobytes())
    return b"".join(out)


def wkb_polygon(rings: list[np.ndarray], z: bool) -> bytes:
    return _iso(3, z) + _rings_bytes(rings)


def wkb_multipolygon(polys: list[list[np.ndarray]], z: bool) -> bytes:
    return (_iso(6, z) + struct.pack("<I", len(polys))
            + b"".join(wkb_polygon(p, z) for p in polys))


def ray_cast(px: np.ndarray, py: np.ndarray,
             rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast over closed rings (exterior then holes):
    left/bottom edges inside, right/top outside."""
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        for i in range(ring.shape[0] - 1):
            x1, y1 = ring[i, 0], ring[i, 1]
            x2, y2 = ring[i + 1, 0], ring[i + 1, 1]
            cond = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= cond & (px < xint)
    return inside


def _star(rng, cx: float, cy: float, r: float, k: int) -> np.ndarray:
    """Closed star-shaped (so simple, usually concave) ring of k
    vertices around (cx, cy)."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
    rad = r * rng.uniform(0.5, 1.0, k)
    ring = np.column_stack((cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
    return np.vstack((ring, ring[:1]))


def _regular(cx: float, cy: float, r: float, k: int) -> np.ndarray:
    ang = np.linspace(0.0, 2 * np.pi, k, endpoint=False)
    ring = np.column_stack((cx + r * np.cos(ang), cy + r * np.sin(ang)))
    return np.vstack((ring, ring[:1]))


def _box(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])


def _polygon_side(rng, n: int, r_lo: float, r_hi: float):
    """n polygons around the hotspots: a third axis-aligned boxes, the
    rest concave stars of 16-64 vertices, half of those with a hole.
    -> list of rings-lists."""
    out = []
    lat, lon = _hotspot_points(rng, n, 1.0, 0.0)
    for i in range(n):
        r = rng.uniform(r_lo, r_hi)
        cx, cy = lon[i], lat[i]
        kind = i % 3
        if kind == 0:
            w, h = r * rng.uniform(0.6, 1.4, 2)
            out.append([_box(cx - w, cy - h, cx + w, cy + h)])
        else:
            rings = [_star(rng, cx, cy, r, int(rng.integers(16, 65)))]
            if kind == 2:  # hole inside the star's inner radius
                rings.append(_regular(cx, cy, 0.3 * r, 8))
            out.append(rings)
    return out


def _bbox(rings: list[np.ndarray]):
    e = rings[0]
    return e[:, 0].min(), e[:, 1].min(), e[:, 0].max(), e[:, 1].max()


def _seg_cross_any(a: np.ndarray, b: np.ndarray) -> bool:
    """Closed segment intersection between any edge of ring a and any
    edge of ring b (touching counts)."""
    p, p2 = a[:-1, None, :], a[1:, None, :]
    q, q2 = b[None, :-1, :], b[None, 1:, :]

    def orient(o, s, t):
        return np.sign((s[..., 0] - o[..., 0]) * (t[..., 1] - o[..., 1])
                       - (s[..., 1] - o[..., 1]) * (t[..., 0] - o[..., 0]))

    d1, d2 = orient(q, q2, p), orient(q, q2, p2)
    d3, d4 = orient(p, p2, q), orient(p, p2, q2)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    if proper.any():
        return True

    def on_seg(o, s, t, d):
        return (d == 0) & (np.minimum(o[..., 0], s[..., 0]) <= t[..., 0]) \
            & (t[..., 0] <= np.maximum(o[..., 0], s[..., 0])) \
            & (np.minimum(o[..., 1], s[..., 1]) <= t[..., 1]) \
            & (t[..., 1] <= np.maximum(o[..., 1], s[..., 1]))

    return bool(on_seg(q, q2, p, d1).any() | on_seg(q, q2, p2, d2).any()
                | on_seg(p, p2, q, d3).any() | on_seg(p, p2, q2, d4).any())


def polygons_intersect(a: list[np.ndarray], b: list[np.ndarray]) -> bool:
    """Closed ST_Intersects of two polygons given as rings."""
    for ra in a:
        for rb in b:
            if _seg_cross_any(ra, rb):
                return True
    if ray_cast(a[0][:1, 0], a[0][:1, 1], b)[0]:
        return True
    return bool(ray_cast(b[0][:1, 0], b[0][:1, 1], a)[0])


def _ring_measures(ring: np.ndarray):
    x, y = ring[:, 0], ring[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a = cross.sum() / 2.0
    if a == 0.0:
        return 0.0, 0.0, 0.0
    return (a, ((x[:-1] + x[1:]) * cross).sum() / (6.0 * a),
            ((y[:-1] + y[1:]) * cross).sum() / (6.0 * a))


def area_centroid(polys: list[list[np.ndarray]]):
    """Area and area-weighted centroid of a (multi)polygon: holes
    subtract, orientation-agnostic."""
    area = sx = sy = 0.0
    for rings in polys:
        for k, ring in enumerate(rings):
            a, cx, cy = _ring_measures(ring[:, :2])
            w = abs(a) if k == 0 else -abs(a)
            area += w
            sx += cx * w
            sy += cy * w
    if area == 0.0:
        return 0.0, float("nan"), float("nan")
    return area, sx / area, sy / area


# ---------------------------------------------------------------------------
# flagship: Common-Crawl-shaped pages
# ---------------------------------------------------------------------------

_WORDS = np.array(
    "the quick brown fox jumps over lazy dog data web page crawl index "
    "spatial tile join engine spark arrow column batch vector city map "
    "geo point polygon zone query scale shuffle salt skew".split())


def _parse_polygon_wkt(wkt: str) -> list[np.ndarray]:
    rings = re.findall(r"\(([^()]+)\)", wkt)
    return [np.array([[float(v) for v in p.split()]
                      for p in r.split(",")]) for r in rings]


def flagship_zones() -> list[tuple[int, list[np.ndarray]]]:
    """The zones the flagship joins against (``synth.zone_defs``, the
    input table of ``zones_df``), parsed by our own WKT reader; null
    and EMPTY zones match nothing."""
    from geospark.sources.synth import zone_defs
    out = []
    for zid, _, wkt in zone_defs():
        if wkt is not None and "EMPTY" not in wkt:
            out.append((zid, _parse_polygon_wkt(wkt)))
    return out


def _gen_pages(rng, n: int, id0: int):
    ids = id0 + np.arange(n, dtype=np.int64)
    n_tags = np.where(rng.random(n) < 0.7, rng.integers(1, 4, n), 0)
    lat, lon = _hotspot_points(rng, n, 0.09, 0.15)
    lat, lon = np.round(lat, 5), np.round(lon, 5)
    lang = LANGS[np.minimum(np.searchsorted(LANG_CDF, rng.random(n),
                                            side="right"), 5)]
    lat_s = np.array([f"{v:.5f}" for v in lat], dtype=object)
    lon_s = np.array([f"{v:.5f}" for v in lon], dtype=object)
    sentences = np.array([" ".join(rng.choice(_WORDS, 8))
                          for _ in range(64)], dtype=object)
    body = sentences[rng.integers(0, 64, n)]
    idss = np.array([str(i) for i in ids], dtype=object)
    e = np.full(n, "", dtype=object)
    t1 = np.where(n_tags >= 1, '<meta name="geo.position" content="'
                  + lat_s + ";" + lon_s + '">', e)
    t2 = np.where(n_tags >= 2, '<a href="geo:' + lat_s + "," + lon_s
                  + '">loc</a>', e)
    t3 = np.where(n_tags >= 3, '<div data-coords="' + lon_s + " " + lat_s
                  + '">here</div>', e)
    html = ("<html><head><title>Page " + idss + "</title>" + t1
            + "</head><body><h1>Article " + idss + "</h1><p>" + body + " "
            + t2 + "</p>" + t3 + "<script>var x=1;</script></body></html>")
    text = "Page " + idss + " Article " + idss + " " + body + " loc here"
    url = np.array([f"https://site{i % 97}.example/p/{i:016x}" for i in ids],
                   dtype=object)
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + (ids * 37 % (90 * 86400)).astype("timedelta64[s]"))
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array([h.encode() for h in html], pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    # the reference: one row per geotag, each at the page's point
    rep = np.repeat(np.arange(n), n_tags)
    tags = {"lat": np.array([float(s) for s in lat_s])[rep],
            "lon": np.array([float(s) for s in lon_s])[rep],
            "lang": lang[rep]}
    return table, tags


def _cell(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """The quadtree cell id, written out from its definition
    ``(res << 56) | (y << res) | x`` over the equirectangular grid."""
    n = 1 << res
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1)
    return ((np.int64(res) << np.int64(56))
            | (y.astype(np.int64) << np.int64(res)) | x.astype(np.int64))


def _flagship_reference(tags, zones) -> str:
    rows = []
    for zid, rings in zones:
        hit = ray_cast(tags["lon"], tags["lat"], rings)
        if hit.any():
            cells = _cell(tags["lat"][hit], tags["lon"][hit], FLAGSHIP_RES)
            rows.extend(zip(cells.tolist(), [zid] * int(hit.sum()),
                            tags["lang"][hit].tolist()))
    counts: dict = {}
    for r in rows:
        counts[r] = counts.get(r, 0) + 1
    return digest_rows((c, z, l, k) for (c, z, l), k in counts.items())


# ---------------------------------------------------------------------------
# polygon_join: points and two polygon sides
# ---------------------------------------------------------------------------

def _polys_table(polys, id0: int) -> pa.Table:
    return pa.table({
        "zone_id": pa.array(id0 + np.arange(len(polys)), pa.int64()),
        "geom_wkb": pa.array([wkb_polygon(p, False) for p in polys],
                             pa.binary())})


def _pip_pairs(pid, lat, lon, polys, id0: int):
    out_p, out_z = [], []
    for k, rings in enumerate(polys):
        x0, y0, x1, y1 = _bbox(rings)
        cand = np.nonzero((lon >= x0) & (lon <= x1)
                          & (lat >= y0) & (lat <= y1))[0]
        if cand.size:
            hit = cand[ray_cast(lon[cand], lat[cand], rings)]
            out_p.append(pid[hit])
            out_z.append(np.full(hit.size, id0 + k, dtype=np.int64))
    if not out_p:
        return 0, digest_rows([])
    p, z = np.concatenate(out_p), np.concatenate(out_z)
    return int(p.size), digest_rows(zip(p.tolist(), z.tolist()))


def _poly_pairs(a, b, ida: int, idb: int):
    boxes_b = np.array([_bbox(r) for r in b])
    pairs = []
    for i, ra in enumerate(a):
        x0, y0, x1, y1 = _bbox(ra)
        cand = np.nonzero((boxes_b[:, 0] <= x1) & (x0 <= boxes_b[:, 2])
                          & (boxes_b[:, 1] <= y1) & (y0 <= boxes_b[:, 3]))[0]
        for j in cand:
            if polygons_intersect(ra, b[j]):
                pairs.append((ida + i, idb + int(j)))
    return len(pairs), digest_rows(pairs)


# ---------------------------------------------------------------------------
# geoarrow_codec: type-homogeneous WKB groups, XY and XYZ
# ---------------------------------------------------------------------------

CODEC_GROUPS = [(ext, dims) for ext in ("point", "linestring", "polygon",
                                        "multipolygon")
                for dims in ("xy", "xyz")]


def _codec_geom(rng, ext: str, z: bool):
    """-> (wkb, polygons-as-rings or None). Coordinates are rounded
    to 6 decimals, as survey data is."""
    def center():
        lat, lon = _hotspot_points(rng, 1, 2.0, 0.1)
        return float(lon[0]), float(lat[0])

    def with_z(ring):  # closed ring -> closed ring with a z column
        if not z:
            return ring
        c = np.column_stack((ring[:-1], rng.uniform(0.0, 500.0,
                                                    len(ring) - 1)))
        return np.vstack((c, c[:1]))

    def poly():
        cx, cy = center()
        r = rng.uniform(0.01, 0.2)
        rings = [np.round(_star(rng, cx, cy, r, int(rng.integers(8, 49))),
                          6)]
        if rng.random() < 0.5:
            rings.append(np.round(_regular(cx, cy, 0.3 * r, 6), 6))
        return [with_z(rr) for rr in rings]

    if ext == "point":
        c = np.array([center()])
        if z:
            c = np.column_stack((c, rng.uniform(0.0, 500.0, 1)))
        return wkb_point(c, z), None
    if ext == "linestring":
        k = int(rng.integers(2, 33))
        c = np.round(np.cumsum(rng.normal(0, 0.01, (k, 2)), axis=0)
                     + center(), 6)
        if z:
            c = np.column_stack((c, rng.uniform(0.0, 500.0, k)))
        return wkb_line(c, z), None
    if ext == "polygon":
        p = poly()
        return wkb_polygon(p, z), [p]
    parts = [poly() for _ in range(int(rng.integers(1, 4)))]
    return wkb_multipolygon(parts, z), parts


def _empty_wkb(ext: str, z: bool) -> bytes:
    if ext == "point":
        return wkb_point(None, z)
    return _iso({"linestring": 2, "polygon": 3, "multipolygon": 6}[ext],
                z) + struct.pack("<I", 0)


def _gen_codec_group(rng, ext: str, dims: str, n: int, id0: int):
    z = dims == "xyz"
    wkbs, area, sx, sy = [], 0.0, 0.0, 0.0
    kinds = rng.random(n)
    for i in range(n):
        if kinds[i] < 0.01:
            wkbs.append(None)
        elif kinds[i] < 0.02:
            wkbs.append(_empty_wkb(ext, z))
        else:
            w, polys = _codec_geom(rng, ext, z)
            wkbs.append(w)
            if polys is not None:
                a, cx, cy = area_centroid(polys)
                area += a
                if a > 0:
                    sx += cx * a
                    sy += cy * a
    table = pa.table({"id": pa.array(id0 + np.arange(n), pa.int64()),
                      "wkb": pa.array(wkbs, pa.binary())})
    return table, {"area": area, "cx_w": sx, "cy_w": sy}


# ---------------------------------------------------------------------------
# near_dup: documents with planted near-duplicate clusters
# ---------------------------------------------------------------------------

def _gen_docs(rng, n: int, n_boiler: int, id0: int) -> pa.Table:
    vocab = np.array([f"w{i:04d}" for i in range(3000)], dtype=object)
    texts = []
    while len(texts) < n:
        base = rng.choice(vocab, int(rng.integers(30, 80)))
        texts.append(" ".join(base))
        if rng.random() < 0.25:  # a cluster of 1-4 near-duplicates
            for _ in range(int(rng.integers(1, 5))):
                d = base.copy()
                edits = rng.random(d.size) < 0.08
                d[edits] = rng.choice(vocab, int(edits.sum()))
                texts.append(" ".join(d))
    boiler = "cookie notice accept all cookies privacy policy terms " * 6
    texts = texts[:n] + [boiler.strip()] * n_boiler
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    return pa.table({"doc_id": pa.array(id0 + np.arange(len(texts)),
                                        pa.int64()),
                     "text": pa.array(texts, pa.string())})


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _near_dup_reference(doc_ids, texts, n_hashes: int = 16, k: int = 4,
                        bands: int = 4, threshold: float = 0.2,
                        max_bucket: int = 1000):
    """MinHash + LSH + exact Jaccard written out in plain Python from
    the operator's definition: word 4-shingles of ``[a-z0-9]+`` tokens,
    60-bit md5 shingle hashes, XOR-permutation minima, md5 band keys,
    buckets of 2..max_bucket docs, Jaccard rounded half-up to 6 places
    and kept at >= threshold."""
    consts = [_md5_60(f"perm{i}") for i in range(n_hashes)]
    rpb = n_hashes // bands
    sh: dict[int, set] = {}
    buckets: dict = {}
    for d, t in zip(doc_ids, texts):
        w = re.findall(r"[a-z0-9]+", t.lower())
        if len(w) < k:
            continue
        hs = {_md5_60(" ".join(w[i:i + k])) for i in range(len(w) - k + 1)}
        sh[d] = hs
        arr = np.fromiter(hs, np.int64, len(hs))
        sig = [str(int((arr ^ np.int64(c)).min())) for c in consts]
        for b in range(bands):
            key = (b, hashlib.md5(",".join(
                sig[b * rpb:(b + 1) * rpb]).encode()).hexdigest())
            buckets.setdefault(key, []).append(d)
    cand = set()
    for ids in buckets.values():
        if 1 < len(ids) <= max_bucket:
            ids = sorted(ids)
            cand.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    rows = []
    for a, b in cand:
        ni = len(sh[a] & sh[b])
        jac = float(Decimal(ni / (len(sh[a]) + len(sh[b]) - ni)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP))
        if jac >= threshold:
            rows.append((a, b, jac))
    return len(rows), digest_rows(rows)


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------

def digest_rows(rows) -> str:
    """Order-insensitive digest of result rows (floats rounded to 6
    places, matching the operators' own rounding)."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, (np.integer,)):
            return int(v)
        return v
    lines = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _gen_shard(workload: str, seed: int, k: int, sz: dict, out: str
               ) -> dict:
    rng = _rng(seed, workload, k)
    id0 = k * 10_000_000
    if workload == "flagship":
        table, tags = _gen_pages(rng, sz["pages"], id0)
        _write_parts(table, out, N_FILES)
        return {"rows": sz["pages"], "tiles": _flagship_reference(
            tags, flagship_zones())}
    if workload == "polygon_join":
        n = sz["points"]
        lat, lon = _hotspot_points(rng, n, 0.6, 0.1)
        pid = id0 + np.arange(n, dtype=np.int64)
        _write_parts(pa.table({"pid": pid, "lat": lat, "lon": lon}),
                     os.path.join(out, "points"), N_FILES)
        small = _polygon_side(rng, sz["small_side"], 0.4, 1.2)
        large = _polygon_side(rng, sz["large_side"], 0.05, 0.25)
        ids, idl = id0, id0 + 1_000_000
        _write_parts(_polys_table(small, ids), os.path.join(out, "small"), 1)
        _write_parts(_polys_table(large, idl), os.path.join(out, "large"),
                     N_FILES)
        n_s, d_s = _pip_pairs(pid, lat, lon, small, ids)
        n_l, d_l = _pip_pairs(pid, lat, lon, large, idl)
        n_p, d_p = _poly_pairs(small, large, ids, idl)
        return {"rows": n + len(small) + len(large), "points": n,
                "small": [n_s, d_s], "large": [n_l, d_l],
                "poly_pairs": [n_p, d_p]}
    if workload == "geoarrow_codec":
        ref = {"rows": 0, "groups": {}}
        for g, (ext, dims) in enumerate(CODEC_GROUPS):
            n = sz["rows_per_group"]
            table, meas = _gen_codec_group(rng, ext, dims, n,
                                           id0 + g * 1_000_000)
            _write_parts(table, os.path.join(out, f"{ext}_{dims}"), 1)
            ref["groups"][f"{ext}_{dims}"] = meas
            ref["rows"] += n
        return ref
    if workload == "near_dup":
        table = _gen_docs(rng, sz["docs"], sz["boilerplate"], id0)
        _write_parts(table, out, N_FILES)
        n_p, d_p = _near_dup_reference(table["doc_id"].to_pylist(),
                                       table["text"].to_pylist())
        return {"rows": table.num_rows, "pairs": [n_p, d_p]}
    raise ValueError(f"unknown workload {workload!r}")


def _input_digest(root: str) -> str:
    h = hashlib.sha256()
    for dp, dns, fns in sorted(os.walk(root)):
        dns.sort()
        for f in sorted(fns):
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def ensure_inputs(cache: str, workload: str, seed: int, size: str,
                  keep: int = 8) -> dict:
    """Generate (or reuse) the shards and references for one
    (workload, seed, size). Returns the manifest: shard paths, rows,
    reference digests, input digest and generation time. At most
    ``keep`` generated sets stay in the cache."""
    sz = SIZES[size][workload]
    root = os.path.join(cache, f"{workload}-s{seed}-{size}")
    man_path = os.path.join(root, "manifest.json")
    if os.path.exists(man_path):
        os.utime(root)
        with open(man_path) as f:
            return json.load(f)
    os.makedirs(cache, exist_ok=True)
    others = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                    key=os.path.getmtime)
    for old in others[:max(0, len(others) - keep + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    tmp = root + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    shards = []
    for k in range(sz["n_warm"] + sz["n_timed"]):
        d = os.path.join(tmp, f"shard-{k:03d}")
        ref = _gen_shard(workload, seed, k, sz, d)
        ref["dir"] = os.path.join(root, f"shard-{k:03d}")
        ref["bytes"] = dir_bytes(d)
        shards.append(ref)
    man = {"workload": workload, "seed": seed, "size": size,
           "n_warm": sz["n_warm"], "shards": shards,
           "input_digest": _input_digest(tmp),
           "gen_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    os.replace(tmp, root)
    return man


if __name__ == "__main__":
    # python3 perfbench/gen.py <workload> <seed> <size>: fill the cache
    # for one (workload, seed, size); run.py calls this in a child process
    import sys

    import common
    sys.path.insert(0, common.REPO_ROOT)
    ensure_inputs(common.CACHE_DIR, sys.argv[1], int(sys.argv[2]),
                  sys.argv[3])
