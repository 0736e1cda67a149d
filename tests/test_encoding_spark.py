"""DataFrame-level GeoArrow conversions (functions.encoding) and the
api facade: WKB column <-> native nested column roundtrips on Spark,
plus end-to-end schema inference (reference EP1/EP2/EP3 at table
scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

POLY_WKTS = [
    "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
    "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), "
    "(20 30, 35 35, 30 20, 20 30))",
    "POLYGON EMPTY",
    None,
]


def _wkb_df(spark, wkts):
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    rows = [(i, None if w is None else write_wkb(parse_wkt(w)))
            for i, w in enumerate(wkts)]
    return spark.createDataFrame(rows, "id long, wkb binary")


@pytest.mark.parametrize("coord_type", ["separate", "interleaved"])
def test_polygon_roundtrip_spark(spark, coord_type):
    from geospark.functions.encoding import from_geoarrow, to_geoarrow
    df = _wkb_df(spark, POLY_WKTS)
    nested = to_geoarrow(df, "wkb", "polygon", coord_type=coord_type)
    back = from_geoarrow(nested, "geom", "polygon")
    got = {r.id: r.wkb for r in back.collect()}
    exp = {r.id: r.wkb for r in df.collect()}
    assert got == exp


_POINT_WKTS = ["POINT (0 1)", "POINT (2.5 -3.5)", "POINT EMPTY", None]
_POINTS_AFTER_NULL = ["POINT (1 2)", None, "POINT (3 4)"]


@pytest.mark.parametrize("coord_type, wkts", [
    ("separate", _POINT_WKTS), ("interleaved", _POINT_WKTS),
    ("separate", _POINTS_AFTER_NULL), ("interleaved", _POINTS_AFTER_NULL),
], ids=["separate", "interleaved", "separate-null-first",
        "interleaved-null-first"])
def test_point_roundtrip_spark(spark, coord_type, wkts):
    from geospark.functions.encoding import from_geoarrow, to_geoarrow
    # one partition: every slot in one Arrow batch, NULLs among points
    df = _wkb_df(spark, wkts).coalesce(1)
    nested = to_geoarrow(df, "wkb", "point", coord_type=coord_type)
    back = from_geoarrow(nested, "geom", "point")
    got = {r.id: r.wkb for r in back.collect()}
    exp = {r.id: r.wkb for r in df.collect()}
    assert got == exp


def test_nested_column_is_queryable(spark):
    """The native layout is a real Spark nested type — usable by
    built-in functions without decoding."""
    from geospark.functions.encoding import to_geoarrow
    df = _wkb_df(spark, POLY_WKTS[:2])
    nested = to_geoarrow(df, "wkb", "polygon", coord_type="separate")
    n_rings = nested.select(F.size("geom").alias("n")).collect()
    assert sorted(r.n for r in n_rings) == [1, 2]
    first_x = nested.select(
        F.col("geom")[0][0]["x"].alias("x")).orderBy("x").collect()
    assert [r.x for r in first_x] == [30.0, 35.0]


def test_infer_encoding_end_to_end(spark):
    from geospark.functions.encoding import infer_encoding
    df = _wkb_df(spark, POLY_WKTS)
    assert infer_encoding(df, "wkb") == ("geoarrow.polygon", "xy")
    mixed = _wkb_df(spark, ["POINT (0 1)",
                            "LINESTRING (0 1, 2 3)"])
    assert infer_encoding(mixed, "wkb") == ("geoarrow.wkb", None)


def test_api_facade():
    from geospark.api import GeoBatchDecoder, GeoBatchEncoder, \
        SchemaInferrer
    from geospark.kernels.geom import parse_wkt
    geoms = [parse_wkt(w) for w in POLY_WKTS]
    for enc in ("wkb", "wkt", "geoarrow", "geoarrow_interleaved"):
        e = GeoBatchEncoder(enc, extension="polygon", dims="xy")
        arr, fld = e.encode(geoms)
        back = GeoBatchDecoder().decode(arr, fld)
        for g, b in zip(geoms, back):
            assert (g is None) == (b is None)
            if g is not None:
                assert g.equals_exact(b)
    inf = SchemaInferrer().ingest_geoms(geoms)
    assert inf.finish("geoarrow") == ("geoarrow.polygon", "xy")
    with pytest.raises(ValueError):
        GeoBatchEncoder("nope")
