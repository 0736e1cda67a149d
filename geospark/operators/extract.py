"""Web-payload extraction: html -> text (byte-identical invariant) and
html/text -> geotagged points.

The text extractor is THE reference for the byte-identical-per-url
invariant (BASELINE.json input_hint): the reference repo contains no
extractor, so this deterministic pure function is pinned by committed
goldens (tests/goldens/text_extract/) — any behavior change is a test
failure, not silent drift (SURVEY.md §7.3).

All extraction is vectorized pandas string ops (Series.str.*, C-level
regex loops — no per-row Python functions) inside pandas UDFs.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# deterministic text extraction (pure; goldens lock bytes)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_RE_TAG = re.compile(rb"<[^>]*>")
_RE_WS = re.compile(rb"[ \t\r\n\f\v]+")
_ENTITIES = [(b"&amp;", b"&"), (b"&lt;", b"<"), (b"&gt;", b">"),
             (b"&quot;", b'"'), (b"&#39;", b"'"), (b"&nbsp;", b" ")]


def extract_text_bytes(html: bytes | None) -> bytes | None:
    """html bytes -> extracted text bytes. Deterministic, total order of
    operations is part of the contract: drop script/style, strip tags,
    decode the 6 basic entities, collapse whitespace, strip."""
    if html is None:
        return None
    t = _RE_SCRIPT.sub(b" ", html)
    t = _RE_TAG.sub(b" ", t)
    for k, v in _ENTITIES:
        t = t.replace(k, v)
    t = _RE_WS.sub(b" ", t)
    return t.strip()


def extract_text_series(html: pd.Series) -> pd.Series:
    """Batch variant over a binary Series (the pandas-UDF body)."""
    return html.map(extract_text_bytes, na_action="ignore") \
        .map(lambda b: b.decode("utf-8", "replace"), na_action="ignore")


# ---------------------------------------------------------------------------
# geotag extraction: three source kinds (SURVEY.md §2.2 extraction row)
# ---------------------------------------------------------------------------
# 1. <meta name="geo.position" content="LAT;LON">
# 2. geo:LAT,LON URIs
# 3. data-coords="LON LAT" attributes (note the axis order difference)

_NUM = r"[-+]?\d{1,3}(?:\.\d+)?"
RE_META = re.compile(
    rf'<meta\s+name="geo\.position"\s+content="({_NUM});({_NUM})"')
RE_GEOURI = re.compile(rf'geo:({_NUM}),({_NUM})')
RE_DATACOORDS = re.compile(rf'data-coords="({_NUM})\s({_NUM})"')

KIND_META, KIND_GEOURI, KIND_DATACOORDS = "meta", "geouri", "data"


def extract_geotags_batch(html: pd.Series) -> pd.DataFrame:
    """Binary html Series -> long-form DataFrame
    (row_idx:int, lat:double, lon:double, kind:str), one row per tag.
    Vectorized: decode once, three Series.str.extractall passes."""
    s = html.map(lambda b: b.decode("utf-8", "replace"),
                 na_action="ignore").fillna("")
    s.index = pd.RangeIndex(len(s))
    frames = []
    for kind, rx, latg, long_ in ((KIND_META, RE_META, 0, 1),
                                  (KIND_GEOURI, RE_GEOURI, 0, 1),
                                  (KIND_DATACOORDS, RE_DATACOORDS, 1, 0)):
        m = s.str.extractall(rx)
        if len(m) == 0:
            continue
        frames.append(pd.DataFrame({
            "row_idx": m.index.get_level_values(0).to_numpy(np.int64),
            "lat": pd.to_numeric(m[latg], errors="coerce"),
            "lon": pd.to_numeric(m[long_], errors="coerce"),
            "kind": kind}))
    if not frames:
        return pd.DataFrame({"row_idx": pd.Series([], dtype=np.int64),
                             "lat": pd.Series([], dtype=np.float64),
                             "lon": pd.Series([], dtype=np.float64),
                             "kind": pd.Series([], dtype=object)})
    out = pd.concat(frames, ignore_index=True)
    valid = (out["lat"].between(-90, 90) & out["lon"].between(-180, 180))
    return out[valid].reset_index(drop=True)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_GEOTAG_SCHEMA = ("url string, warc_ts timestamp, lang string, "
                  "lat double, lon double, kind string")


def extract_pages(df):
    """pages(url, warc_ts, html, text, lang) -> one row per geotag:
    (url, warc_ts, lang, lat, lon, kind).

    Pure JVM built-ins (decode + regexp_extract_all + explode): the
    extraction hot path has ZERO Python — faster than the mapInPandas
    variant (no Arrow transfer, no Python workers competing for cores),
    and the html column is scanned ONCE with an alternation of the three
    tag patterns (at 100 TB the html scan is the bandwidth bill; 3
    regex passes would triple it). Per-match group re-extraction only
    touches the tiny matched substrings. The pandas twin
    (extract_pages_pandas) is kept and tested equal.

    NOTE: emits tags grouped per kind in pattern order *per match
    position*; the pandas twin orders by kind across the batch — equal
    as multisets, which is what every consumer (joins, aggregates)
    observes."""
    from pyspark.sql import functions as F
    # combined groups: 1=(meta full) 2=lat 3=lon | 4=(geouri full)
    # 5=lat 6=lon | 7=(data full) 8=lon 9=lat
    rx = (f"({RE_META.pattern})|({RE_GEOURI.pattern})"
          f"|({RE_DATACOORDS.pattern})")
    html_s = F.decode(F.col("html"), "UTF-8")
    ms = F.regexp_extract_all(html_s, F.lit(rx), 0)

    def tag(m):
        lat = F.coalesce(
            F.nullif(F.regexp_extract(m, rx, 2), F.lit("")),
            F.nullif(F.regexp_extract(m, rx, 5), F.lit("")),
            F.nullif(F.regexp_extract(m, rx, 9), F.lit("")))
        lon = F.coalesce(
            F.nullif(F.regexp_extract(m, rx, 3), F.lit("")),
            F.nullif(F.regexp_extract(m, rx, 6), F.lit("")),
            F.nullif(F.regexp_extract(m, rx, 8), F.lit("")))
        kind = (F.when(F.regexp_extract(m, rx, 1) != "",
                       F.lit(KIND_META))
                .when(F.regexp_extract(m, rx, 4) != "",
                      F.lit(KIND_GEOURI))
                .otherwise(F.lit(KIND_DATACOORDS)))
        return F.struct(lat.cast("double").alias("lat"),
                        lon.cast("double").alias("lon"),
                        kind.alias("kind"))

    out = (df.select("url", "warc_ts", "lang",
                     F.explode(F.transform(ms, tag)).alias("t"))
           .select("url", "warc_ts", "lang",
                   F.col("t.lat").alias("lat"),
                   F.col("t.lon").alias("lon"),
                   F.col("t.kind").alias("kind")))
    return out.filter((F.col("lat") >= -90) & (F.col("lat") <= 90)
                      & (F.col("lon") >= -180) & (F.col("lon") <= 180))


def extract_pages_pandas(df):
    """mapInPandas twin of extract_pages (kept for parity testing and as
    the template for extractors that genuinely need Python)."""
    def fn(it):
        for pdf in it:
            tags = extract_geotags_batch(pdf["html"])
            if len(tags) == 0:
                continue
            base = pdf.iloc[tags["row_idx"].to_numpy()].reset_index(drop=True)
            yield pd.DataFrame({
                "url": base["url"], "warc_ts": base["warc_ts"],
                "lang": base["lang"],
                "lat": tags["lat"].to_numpy(np.float64),
                "lon": tags["lon"].to_numpy(np.float64),
                "kind": tags["kind"]})
    return df.mapInPandas(fn, schema=_GEOTAG_SCHEMA)


def with_extracted_text(df, html_col: str = "html",
                        out_col: str = "text_extracted"):
    """Adds the deterministic extraction as a column (for the
    byte-identical invariant check against the stored text column)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(s: pd.Series) -> pd.Series:
        return extract_text_series(s)

    return df.withColumn(out_col, _extract(html_col))
