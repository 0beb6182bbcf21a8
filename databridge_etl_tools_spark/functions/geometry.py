"""Geometry scalar functions over the EWKT string convention.

The reference keeps geometry as WKT/EWKT strings in CSVs
(``SRID=2272;POINT(x y)``) and manipulates them with regexes and
string surgery; we keep the same convention but as Catalyst column
expressions, so they vectorize JVM-side. Reference citations per
function (SURVEY §2.7).
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F

#: geometry type → promoted MULTI type (reference GEOM_TYPE_MAP,
#: databridge_etl_tools/abstract/__init__.py:27-34 and
#: postgres/postgres_map.py:19-27; note polygon→multipolygon).
MULTI_PROMOTION = {
    "POLYGON": "MULTIPOLYGON",
    "LINESTRING": "MULTILINESTRING",
    "POINT": "MULTIPOINT",
}

#: corrupt SRID → real SRID remap: the lookup of bogus spatial-
#: reference codes seen in Philadelphia data onto the EPSG codes they
#: actually mean (reference: opendata/opendata.py:243-266).
BAD_SRID_REMAP = {
    300001: 2272,
    300003: 2272,
    300046: 2272,
    300006: 2272,
    300010: 2272,
    300008: 2272,
    300004: 2272,
    300007: 2272,
    300067: 2272,
    300100: 2272,
    300101: 2272,
    300084: 3857,
    300073: 4326,
    300042: 4326,
    300090: 4269,
    300091: 4326,
    300092: 4326,
    300086: 6565,
    300087: 6565,
    300093: 2272,
}


def srid_of(col: Column | str) -> Column:
    """F12 extract: parse the ``SRID=n;`` prefix → int (NULL if absent).

    Reference: ago/ago.py:688-695; opendata/opendata.py:140-162.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, r"^SRID=(\d+);", 1), F.lit("")).cast("int")


def strip_srid(col: Column | str) -> Column:
    """F12 strip: drop the ``SRID=n;`` prefix, keep the WKT tail."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^SRID=\d+;", "")


def with_srid(col: Column | str, srid: Column | int) -> Column:
    """Prefix bare WKT with ``SRID=n;`` (inverse of strip_srid)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(srid) if isinstance(srid, int) else srid
    return F.concat(F.lit("SRID="), s.cast("string"), F.lit(";"), c)


def ascii_upper(c: Column) -> Column:
    """Fold ASCII ``a-z`` to upper case, leave every other character.

    Spark's ``upper`` initializes ICU's case-mapping classes on its
    first use in a JVM (about 1 s); ``translate`` does not. WKT
    keywords and type tokens are ASCII, and no non-ASCII character
    upper-cases into E, M, P, T or Y, so a comparison with ``EMPTY``
    reads the same either way."""
    return F.translate(c, string.ascii_lowercase, string.ascii_uppercase)


def geometry_kind(col: Column | str) -> Column:
    """F24: sniff the geometry type token from (E)WKT, uppercased,
    with Z/M suffix dropped (``POINT Z`` → ``POINT``).

    Reference: postgres/postgres.py:338-345 (row_geom_type addfield),
    ago/ago.py:552-578 (shape-type assert).
    """
    c = F.col(col) if isinstance(col, str) else col
    tail = F.regexp_replace(c, r"^SRID=\d+;", "")
    return ascii_upper(F.regexp_extract(tail, r"^\s*([A-Za-z]+)", 1))


def repair_nan(col: Column | str) -> Column:
    """F3: mend corrupt Z/M coordinates — ``1.#QNAN000`` or a literal
    ``NULL`` token inside WKT becomes ``NaN``.

    Reference: postgres/postgres.py:374-381.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"1\.#QNAN000|(?<=[ (,])NULL(?=[ ),])", "NaN")


def force_2d(col: Column | str) -> Column:
    """F1: strip Z/M dimension labels and 3rd/4th coordinates from WKT.

    ``POINT Z (1 2 3)`` → ``POINT (1 2)``;
    ``LINESTRING ZM (1 2 3 4, 5 6 7 8)`` → ``LINESTRING (1 2, 5 6 7 8 → 5 6)``.
    Works on EWKT too (prefix untouched). Reference: utils.py:10-26.
    """
    c = F.col(col) if isinstance(col, str) else col
    # drop the dimension marker: "POINT Z (" / "POINT ZM(" → "POINT ("
    no_label = F.regexp_replace(c, r"(?i)\b(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|GEOMETRYCOLLECTION)\s*(Z|M|ZM)\b", r"$1")
    # inside every coordinate tuple, keep only the first two numbers;
    # coordinates are space-separated, tuples ','-separated. NaN /
    # 1.#QNAN000 / NULL count as numbers (see repair_nan).
    num = r"[-+]?(?:\d+\.?\d*(?:[eE][-+]?\d+)?|\.\d+|NaN|nan|1\.#QNAN000|NULL)"
    return F.regexp_replace(
        no_label,
        rf"({num}\s+{num})((\s+{num}){{1,2}})(?=\s*[,)])",
        r"$1",
    )


def promote_to_multi(col: Column | str, target_kind: Column | str | None = None) -> Column:
    """F2: promote single geometries to their MULTI form by wrapping:
    ``POLYGON((…))`` → ``MULTIPOLYGON(((…)))``, ``LINESTRING(…)`` →
    ``MULTILINESTRING((…))``, ``POINT(x y)`` → ``MULTIPOINT((x y))``.

    When ``target_kind`` is given (e.g. the schema's geometry_type),
    promotion happens only if the target is the MULTI form; otherwise
    every single geometry is promoted. EWKT SRID prefixes and EMPTY
    geometries are preserved (``POLYGON EMPTY`` → ``MULTIPOLYGON EMPTY``).

    Reference: postgres/postgres.py:300-359.
    """
    c = F.col(col) if isinstance(col, str) else col
    prefix = F.coalesce(F.regexp_extract(c, r"^(SRID=\d+;)", 1), F.lit(""))
    tail = F.regexp_replace(c, r"^SRID=\d+;", "")
    kind = ascii_upper(F.regexp_extract(tail, r"^\s*([A-Za-z]+)", 1))

    def wrapped(single: str, multi: str) -> Column:
        body = F.trim(F.regexp_replace(tail, r"(?i)^\s*" + single, ""))
        return F.when(
            ascii_upper(F.trim(body)) == "EMPTY", F.concat(F.lit(multi), F.lit(" EMPTY"))
        ).otherwise(F.concat(F.lit(multi), F.lit("("), F.trim(body), F.lit(")")))

    out = tail
    for single, multi in MULTI_PROMOTION.items():
        cond = kind == single
        if isinstance(target_kind, str):
            if target_kind.upper() != multi:
                continue
        elif target_kind is not None:
            cond = cond & (F.upper(target_kind) == multi)
        out = F.when(cond, wrapped(single, multi)).otherwise(out)
    return F.concat(prefix, out)


def point_to_lon_lat(col: Column | str) -> tuple[Column, Column]:
    """F17: parse ``[SRID=n;]POINT (x y)`` into (lon, lat) doubles.

    Reference: opendata/opendata.py:300-327.
    """
    c = F.col(col) if isinstance(col, str) else col
    num = r"([-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?)"
    # nullif guards non-matches (e.g. EMPTY geometries): ANSI mode
    # (Spark 4 default) would otherwise throw casting '' to double
    x = F.nullif(F.regexp_extract(c, rf"POINT\s*\(\s*{num}\s", 1), F.lit("")).cast("double")
    y = F.nullif(
        F.regexp_extract(c, rf"POINT\s*\(\s*{num}\s+{num}\s*\)", 2), F.lit("")
    ).cast("double")
    return x, y


def probe_geometry_metadata(df, geom_col: str, sample: int = 1000) -> dict:
    """S5/A3: bounded-sample probe of a geometry column's kind + SRID
    with the reference's resolution rules (_properties.py:145-165,
    opendata/opendata.py:100-201): one distinct kind → use it;
    {POLYGON, MULTIPOLYGON} → MULTIPOLYGON (likewise LINESTRING);
    anything else → GEOMETRY. SRID: first non-null observed.
    """
    rows = (
        df.select(
            geometry_kind(geom_col).alias("kind"), srid_of(geom_col).alias("srid")
        )
        .where(F.col("kind") != "")
        .limit(sample)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.first("srid", ignorenulls=True).alias("srid"))
        .collect()
    )
    kinds = {r["kind"] for r in rows}
    srid = next((r["srid"] for r in rows if r["srid"] is not None), None)
    if len(kinds) == 1:
        kind = kinds.pop()
    elif kinds <= {"POLYGON", "MULTIPOLYGON"}:
        kind = "MULTIPOLYGON"
    elif kinds <= {"LINESTRING", "MULTILINESTRING"}:
        kind = "MULTILINESTRING"
    else:
        kind = "GEOMETRY"
    return {"geometry_type": kind, "srid": srid}


def remap_bad_srid(col: Column | str) -> Column:
    """F18: map ~20 bogus SRIDs onto their intended EPSG codes;
    unknown values pass through. Reference: opendata/opendata.py:243-266."""
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in BAD_SRID_REMAP.items():
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs)
    return F.coalesce(m[c.cast("int")], c.cast("int"))
