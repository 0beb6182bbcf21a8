"""Unit tests for the §2.7 scalar-function layer, built around the
reference's fixture edge cases (FIXTURES.md: point_table_2272 —
empty geometries, QNAN Z-coords, special characters, BOM headers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.functions import (
    array_braces,
    empty_to_null,
    force_2d,
    geometry_kind,
    localize_naive_eastern,
    naive_eastern_to_epoch_ms,
    normalize_headers,
    point_to_lon_lat,
    promote_to_multi,
    remap_bad_srid,
    repair_nan,
    sanitize_ascii,
    scrub_null_bytes,
    snakecase,
    srid_of,
    strip_srid,
    with_srid,
)


def one(spark, value, fn, typ="string"):
    df = spark.createDataFrame([(value,)], f"x {typ}")
    return df.select(fn(F.col("x")).alias("y")).first()["y"]


# ---------- F12 SRID handling ----------

def test_srid_extract_and_strip(spark):
    assert one(spark, "SRID=2272;POINT(1 2)", srid_of) == 2272
    assert one(spark, "POINT(1 2)", srid_of) is None
    assert one(spark, "SRID=2272;POINT(1 2)", strip_srid) == "POINT(1 2)"
    assert one(spark, "POINT(1 2)", strip_srid) == "POINT(1 2)"
    assert one(spark, "POINT(1 2)", lambda c: with_srid(c, 4326)) == "SRID=4326;POINT(1 2)"


# ---------- F24 geometry kind sniff ----------

@pytest.mark.parametrize(
    "wkt,kind",
    [
        ("SRID=2272;POINT(1 2)", "POINT"),
        ("SRID=2272;MULTIPOINT EMPTY", "MULTIPOINT"),
        ("polygon((0 0,1 0,1 1,0 0))", "POLYGON"),
        ("LINESTRING Z (1 2 3, 4 5 6)", "LINESTRING"),
    ],
)
def test_geometry_kind(spark, wkt, kind):
    assert one(spark, wkt, geometry_kind) == kind


# ---------- F3 NaN repair ----------

def test_repair_nan(spark):
    assert (
        one(spark, "POINT Z (1 2 1.#QNAN000)", repair_nan) == "POINT Z (1 2 NaN)"
    )
    assert one(spark, "POINT Z (1 2 NULL)", repair_nan) == "POINT Z (1 2 NaN)"
    # NULL token inside a name must not be touched
    assert one(spark, "POINT(1 2)", repair_nan) == "POINT(1 2)"


# ---------- F1 force_2d ----------

@pytest.mark.parametrize(
    "wkt3d,wkt2d",
    [
        ("POINT Z (1 2 3)", "POINT (1 2)"),
        ("POINT ZM (1 2 3 4)", "POINT (1 2)"),
        ("LINESTRING Z (1.5 2.5 3.5, 4 5 6)", "LINESTRING (1.5 2.5, 4 5)"),
        ("SRID=2272;POINT Z (1 2 NaN)", "SRID=2272;POINT (1 2)"),
        ("POLYGON Z ((0 0 1, 1 0 1, 1 1 1, 0 0 1))", "POLYGON ((0 0, 1 0, 1 1, 0 0))"),
        ("POINT (7 8)", "POINT (7 8)"),
        ("MULTIPOINT EMPTY", "MULTIPOINT EMPTY"),
    ],
)
def test_force_2d(spark, wkt3d, wkt2d):
    assert one(spark, wkt3d, force_2d) == wkt2d


# ---------- F2 MULTI promotion ----------

@pytest.mark.parametrize(
    "wkt,target,expect",
    [
        ("POLYGON((0 0,1 0,1 1,0 0))", "MULTIPOLYGON", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"),
        ("LINESTRING(0 0,1 1)", "MULTILINESTRING", "MULTILINESTRING((0 0,1 1))"),
        ("SRID=2272;POLYGON((0 0,1 0,1 1,0 0))", "MULTIPOLYGON", "SRID=2272;MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"),
        ("POLYGON EMPTY", "MULTIPOLYGON", "MULTIPOLYGON EMPTY"),
        # already MULTI: untouched
        ("MULTIPOLYGON(((0 0,1 0,1 1,0 0)))", "MULTIPOLYGON", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"),
        # target is not MULTI: untouched
        ("POLYGON((0 0,1 0,1 1,0 0))", "POLYGON", "POLYGON((0 0,1 0,1 1,0 0))"),
    ],
)
def test_promote_to_multi(spark, wkt, target, expect):
    assert one(spark, wkt, lambda c: promote_to_multi(c, target)) == expect


# ---------- ASCII case folding of WKT keywords ----------

#: mixed case, EWKT, EMPTY in any case, Z/M suffixes, non-ASCII bodies
#: and kinds (dotless ı and long ſ upper-case into I and S; ß into SS)
FOLD_INPUTS = [
    "SRID=2272;polygon((0 0,1 0,1 1,0 0))",
    "Polygon Empty",
    "SRID=4326;point eMpTy",
    "POINT Z (1 2 3)",
    "linestring m (0 0 1, 1 1 2)",
    "MultiPolygon(((0 0,1 0,1 1,0 0)))",
    "POLYGON ℮mpty",
    "POINT ÉMPTY",
    "pοint(1 2)",
    "poınt(1 2)",
    "LINESTRING ſtraße",
    "point(1 2) émpty",
    "  point  (1 2)  ",
    "",
    None,
]


def _old_geometry_kind(c):
    tail = F.regexp_replace(c, r"^SRID=\d+;", "")
    return F.upper(F.regexp_extract(tail, r"^\s*([A-Za-z]+)", 1))


def _old_promote_to_multi(c, target_kind):
    from databridge_etl_tools_spark.functions.geometry import MULTI_PROMOTION

    prefix = F.coalesce(F.regexp_extract(c, r"^(SRID=\d+;)", 1), F.lit(""))
    tail = F.regexp_replace(c, r"^SRID=\d+;", "")
    kind = F.upper(F.regexp_extract(tail, r"^\s*([A-Za-z]+)", 1))

    def wrapped(single, multi):
        body = F.trim(F.regexp_replace(tail, r"(?i)^\s*" + single, ""))
        return F.when(
            F.upper(F.trim(body)) == "EMPTY", F.concat(F.lit(multi), F.lit(" EMPTY"))
        ).otherwise(F.concat(F.lit(multi), F.lit("("), F.trim(body), F.lit(")")))

    out = tail
    for single, multi in MULTI_PROMOTION.items():
        cond = kind == single
        if target_kind is not None:
            cond = cond & (F.upper(F.lit(target_kind).cast("string")) == multi)
        out = F.when(cond, wrapped(single, multi)).otherwise(out)
    return F.concat(prefix, out)


def test_ascii_folding_equals_upper(spark):
    """``translate``-based folding gives what ``F.upper`` gave for
    every WKT function and the V6 well-formedness test."""
    from databridge_etl_tools_spark.functions.geometry import ascii_upper

    df = spark.createDataFrame([(v,) for v in FOLD_INPUTS], "x string")
    c = F.col("x")
    pairs = [
        (geometry_kind(c), _old_geometry_kind(c)),
        (ascii_upper(F.trim(c)).endswith("EMPTY"), F.upper(F.trim(c)).endswith("EMPTY")),
        (promote_to_multi(c), _old_promote_to_multi(c, None)),
    ]
    for target in ("MULTIPOLYGON", "multilinestring", "MultiPoint", "POLYGON"):
        pairs.append((promote_to_multi(c, target), _old_promote_to_multi(c, target)))
    rows = df.select(
        *[new.alias(f"n{i}") for i, (new, _) in enumerate(pairs)],
        *[old.alias(f"o{i}") for i, (_, old) in enumerate(pairs)],
    ).collect()
    for r in rows:
        for i in range(len(pairs)):
            assert r[f"n{i}"] == r[f"o{i}"], (r, i)


# ---------- F17 point → lon/lat ----------

def test_point_to_lon_lat(spark):
    df = spark.createDataFrame([("SRID=4326;POINT (-75.16 39.95)",)], "x string")
    lon, lat = point_to_lon_lat(F.col("x"))
    row = df.select(lon.alias("lon"), lat.alias("lat")).first()
    assert row["lon"] == -75.16 and row["lat"] == 39.95


# ---------- F18 bad SRID remap ----------

def test_remap_bad_srid(spark):
    assert one(spark, 300001, remap_bad_srid, "int") == 2272
    assert one(spark, 300084, remap_bad_srid, "int") == 3857
    assert one(spark, 4326, remap_bad_srid, "int") == 4326


# ---------- text functions ----------

def test_scrub_sanitize_empty(spark):
    assert one(spark, "a\x00b", scrub_null_bytes) == "ab"
    assert one(spark, 'ab#$%c<d>"é"', sanitize_ascii) == "ab#$%c d".replace(" d", "d")
    assert one(spark, "   ", empty_to_null) is None
    assert one(spark, "x", empty_to_null) == "x"


def test_array_braces(spark):
    assert one(spark, "[a,b]", array_braces) == "{a,b}"
    assert one(spark, "plain", array_braces) == "plain"
    assert one(spark, "[]", array_braces) == "{}"


def test_snakecase():
    assert snakecase("Date Opened") == "date_opened"
    assert snakecase("Record ID") == "record_id"
    assert snakecase("camelCaseLabel") == "camel_case_label"


def test_normalize_headers(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["﻿A#B", "OBJECTID_1", "Val"])
    out = normalize_headers(df, {"val": "value"})
    assert out.columns == ["a_b", "objectid", "value"]


# ---------- datetime policies ----------

def test_localize_naive_eastern(spark):
    # EST (winter): 12:00 Eastern == 17:00 UTC
    got = one(spark, "2024-01-15 12:00:00", lambda c: localize_naive_eastern(c))
    assert str(got) == "2024-01-15 17:00:00"
    # EDT (summer): 12:00 Eastern == 16:00 UTC
    got = one(spark, "2024-07-15 12:00:00", lambda c: localize_naive_eastern(c))
    assert str(got) == "2024-07-15 16:00:00"


def test_naive_eastern_to_epoch_ms(spark):
    # 1970-01-01 00:00 Eastern == 05:00 UTC == 18000000 ms
    got = one(spark, "1970-01-01 00:00:00", naive_eastern_to_epoch_ms)
    assert got == 18_000_000
