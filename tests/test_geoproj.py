"""Reprojection + geometry-codec tests (F13-F16)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.functions import geoproj as GP
from databridge_etl_tools_spark.functions import geometry_udf as GU


def _one(spark, cols):
    df = spark.range(1)
    return df.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).first()


def test_webmercator_known_values(spark):
    # x(180°) = a·π exactly; y(0) = 0
    r = _one(spark, [*GP.lonlat_to_webmercator(F.lit(180.0), F.lit(0.0))])
    assert abs(r.c0 - 6378137.0 * math.pi) < 1e-6
    assert abs(r.c1 - 0.0) < 1e-9
    # independent scalar computation for Philadelphia
    lon, lat = -75.1635, 39.9528
    ex = 6378137.0 * math.radians(lon)
    ey = 6378137.0 * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    r = _one(spark, [*GP.lonlat_to_webmercator(F.lit(lon), F.lit(lat))])
    assert abs(r.c0 - ex) < 1e-6 and abs(r.c1 - ey) < 1e-6


def test_webmercator_roundtrip(spark):
    x, y = GP.lonlat_to_webmercator(F.lit(-75.1635), F.lit(39.9528))
    lon, lat = GP.webmercator_to_lonlat(x, y)
    r = _one(spark, [lon, lat])
    assert abs(r.c0 - -75.1635) < 1e-9 and abs(r.c1 - 39.9528) < 1e-9


def test_pa_south_sanity_and_roundtrip(spark):
    # the reference fixture point (point_table_2272.csv) sits in
    # Philadelphia: E≈2.712M ft, N≈0.26M ft → lon/lat must land there
    lon, lat = GP.pa_south_ft_to_lonlat(F.lit(2712205.71), F.lit(259685.27))
    r = _one(spark, [lon, lat])
    assert -75.5 < r.c0 < -74.8, r.c0
    assert 39.8 < r.c1 < 40.2, r.c1
    # forward∘inverse closes to sub-millifoot
    e2, n2 = GP.lonlat_to_pa_south_ft(F.lit(r.c0), F.lit(r.c1))
    rr = _one(spark, [e2, n2])
    assert abs(rr.c0 - 2712205.71) < 1e-3 and abs(rr.c1 - 259685.27) < 1e-3


def test_pa_south_scale_is_feet(spark):
    # one degree of longitude at 40°N ≈ 280,000 ft: moving 0.01° east
    # must move easting by ≈ 2,800 ft
    a = _one(spark, [*GP.lonlat_to_pa_south_ft(F.lit(-75.16), F.lit(39.95))])
    b = _one(spark, [*GP.lonlat_to_pa_south_ft(F.lit(-75.15), F.lit(39.95))])
    assert 2500 < (b.c0 - a.c0) < 3100


def test_datum_pipeline_nudge(spark):
    base = GP.pa_south_to_webmercator(
        F.lit(2712205.71), F.lit(259685.27), nudge_x_m=0.0, nudge_y_m=0.0
    )
    nudged = GP.pa_south_to_webmercator(F.lit(2712205.71), F.lit(259685.27))
    r = _one(spark, [*base, *nudged])
    assert abs((r.c2 - r.c0) - -0.20) < 1e-9
    assert abs((r.c3 - r.c1) - 1.18) < 1e-9


def test_reproject_point_wkt_tags_srid(spark):
    df = spark.createDataFrame([("SRID=4326;POINT (-75.1635 39.9528)",)], "g string")
    out = df.select(GP.reproject_point_wkt(F.col("g"), 4326, 3857).alias("g")).first()
    assert out.g.startswith("SRID=3857;POINT (")


def _py_lcc_inverse(e_ft, n_ft):
    """Scalar EPSG:2272 inverse in the textbook form, latitude step
    φ ← π/2 − 2·atan(t·((1−e·sinφ)/(1+e·sinφ))^(e/2))."""
    x = e_ft * GP.FT_US - GP._FE_M
    y = GP._RHO0 - (n_ft * GP.FT_US - GP._FN_M)
    t = (math.hypot(x, y) / (GP._A * GP._BIGF)) ** (1.0 / GP._N)
    lam = math.atan2(x, y) / GP._N + GP._LON0
    phi = math.pi / 2 - 2 * math.atan(t)
    for _ in range(6):
        esin = GP._E * math.sin(phi)
        phi = math.pi / 2 - 2 * math.atan(t * ((1 - esin) / (1 + esin)) ** (GP._E / 2))
    return math.degrees(lam), math.degrees(phi)


def test_pa_south_inverse_matches_scalar_pow_form_compiled(spark, tmp_path):
    """The exp·atanh latitude step equals the textbook pow form to
    1e-10° across the EPSG:2272 domain (about 80.6°W-74.7°W,
    39.7°N-41.2°N), evaluated through generated code: the input is a
    parquet scan (a local relation would be folded on the driver) and
    the interpreted fallback is off, so an oversized expression fails
    here instead of running interpreted."""
    grid = [
        (1_150_000.0 + i * 170_000.0, 40_000.0 + j * 60_000.0)
        for i in range(11)
        for j in range(11)
    ]
    src = str(tmp_path / "grid")
    spark.createDataFrame(grid, "e_ft double, n_ft double").write.parquet(src)
    df = spark.read.parquet(src)
    lon, lat = GP.pa_south_ft_to_lonlat(F.col("e_ft"), F.col("n_ft"))
    g = F.format_string("SRID=2272;POINT (%s %s)", F.col("e_ft"), F.col("n_ft"))
    merc = GP.reproject_point_wkt(g, 2272, 3857)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = df.select("e_ft", "n_ft", lon.alias("lon"), lat.alias("lat"), merc.alias("m")).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) == len(grid)
    lons, lats = [r.lon for r in rows], [r.lat for r in rows]
    assert min(lons) < -80.0 and max(lons) > -75.0
    assert min(lats) < 39.8 and max(lats) > 41.0
    for r in rows:
        want_lon, want_lat = _py_lcc_inverse(r.e_ft, r.n_ft)
        assert abs(r.lon - want_lon) < 1e-10 and abs(r.lat - want_lat) < 1e-10, r
        mx = 6378137.0 * math.radians(want_lon) - 0.20
        my = 6378137.0 * math.log(math.tan(math.pi / 4 + math.radians(want_lat) / 2)) + 1.18
        assert r.m.startswith("SRID=3857;POINT (")
        got_x, got_y = map(float, r.m[len("SRID=3857;POINT ("):-1].split())
        assert abs(got_x - mx) < 1e-5 and abs(got_y - my) < 1e-5, r


# ---------------- F15 WKB codec ----------------


def test_wkb_roundtrip_plain_and_ewkb():
    for wkt in ["POINT (1.5 -2.25)", "SRID=2272;POINT (2712205.71 259685.27)"]:
        blob = GU.point_wkt_to_ewkb(wkt)
        assert GU.ewkb_to_point_wkt(blob) == wkt
    assert GU.point_wkt_to_ewkb(None) is None


def test_wkb_dataframe_legs(spark):
    df = spark.createDataFrame(
        [(1, "SRID=2272;POINT (10 20)"), (2, "POINT (0 0)")], "id int, g string"
    )
    enc = GU.wkt_to_ewkb_col(df, "g")
    dec = GU.ewkb_to_wkt_col(enc.drop("g"), "ewkb")
    got = {r.id: r.wkt for r in dec.collect()}
    assert got == {1: "SRID=2272;POINT (10 20)", 2: "POINT (0 0)"}


# ---------------- F16 Esri JSON ----------------


def test_esri_json_point_polygon_line():
    d = json.loads(GU.wkt_to_esri_json("SRID=2272;POINT (1 2)"))
    assert d == {"x": 1.0, "y": 2.0, "spatialReference": {"wkid": 2272}}
    # CCW WKT exterior is normalized to Esri's clockwise outer-ring winding
    d = json.loads(GU.wkt_to_esri_json("POLYGON((0 0, 1 0, 1 1, 0 0))", srid=4326))
    assert d["rings"] == [[[0, 0], [1, 1], [1, 0], [0, 0]]]
    d = json.loads(
        GU.wkt_to_esri_json("MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))")
    )
    assert len(d["rings"]) == 2  # MULTI flattened into rings
    d = json.loads(GU.wkt_to_esri_json("LINESTRING(0 0, 1 1)"))
    assert d["paths"] == [[[0, 0], [1, 1]]]


def test_esri_json_polygon_holes_and_winding():
    # donut: CW exterior kept as-is, CW hole flipped to CCW
    d = json.loads(
        GU.wkt_to_esri_json(
            "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"
        )
    )
    ext, hole = d["rings"]
    assert ext == [[0, 0], [0, 10], [10, 10], [10, 0], [0, 0]]  # already CW
    assert hole == [[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]]  # reversed to CCW
    # multipolygon with a holed member + a plain member: 3 rings total,
    # each polygon's first ring CW, holes CCW
    d = json.loads(
        GU.wkt_to_esri_json(
            "MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(1 1,1 2,2 2,2 1,1 1)),"
            "((20 20,21 20,21 21,20 20)))"
        )
    )
    assert len(d["rings"]) == 3
    r0, r1, r2 = d["rings"]

    def area2(ring):
        return sum(
            ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
            for i in range(len(ring) - 1)
        )

    assert area2(r0) < 0 and area2(r2) < 0  # outers clockwise
    assert area2(r1) > 0  # hole counterclockwise
    assert {tuple(p) for p in r1} == {(1, 1), (1, 2), (2, 2), (2, 1)}


def test_esri_json_empties_and_multipoint():
    d = json.loads(GU.wkt_to_esri_json("SRID=2272;MULTIPOINT EMPTY"))
    assert d["x"] == "NaN"
    d = json.loads(GU.wkt_to_esri_json("POLYGON EMPTY"))
    assert d["rings"] == []
    with pytest.raises(NotImplementedError):
        GU.wkt_to_esri_json("MULTIPOINT((1 2))")


def test_esri_json_dataframe_leg(spark):
    df = spark.createDataFrame([(1, "SRID=4326;POINT (-75.0 40.0)")], "id int, g string")
    r = GU.wkt_to_esri_json_col(df, "g").first()
    assert json.loads(r.esri_json)["spatialReference"] == {"wkid": 4326}


def test_full_wkb_codec_roundtrip(spark):
    """Multi-geometry (E)WKB: known OGC byte vectors + round-trips for
    every supported kind, driven through the Arrow-batched column
    transforms."""
    from databridge_etl_tools_spark.functions.geometry_udf import (
        ewkb_to_wkt,
        ewkb_to_wkt_col,
        wkt_to_ewkb,
        wkt_to_ewkb_col,
    )

    # hand-checkable canonical WKB (little-endian)
    assert wkt_to_ewkb("POINT (1 2)").hex() == (
        "0101000000000000000000f03f0000000000000040"
    )
    assert wkt_to_ewkb("LINESTRING (0 0, 1 1)").hex() == (
        "010200000002000000" + "0" * 32 + "000000000000f03f000000000000f03f"
    )

    cases = [
        "POINT (1 2)",
        "SRID=2272;POINT (2700000 235000)",
        "LINESTRING (0 0, 1 0, 1 1)",
        "LINESTRING EMPTY",
        "POLYGON ((0 0, 4 0, 4 4, 0 0))",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 2))",
        "SRID=4326;POLYGON ((0 0, 1 0, 1 1, 0 0))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOINT ((1 2), (3 4))",
        "POLYGON EMPTY",
        "POINT EMPTY",
    ]
    for w in cases:
        assert ewkb_to_wkt(wkt_to_ewkb(w)) == w, w

    df = spark.createDataFrame([(i, w) for i, w in enumerate(cases)], "i int, wkt string")
    enc = wkt_to_ewkb_col(df, "wkt")
    dec = ewkb_to_wkt_col(enc, "ewkb", out_col="wkt2")
    rows = {r.i: (r.wkt, r.wkt2) for r in dec.collect()}
    assert all(a == b for a, b in rows.values())
