"""SharePoint/xlsx extract (SURVEY §2.1 S9, §2.7 F23).

The reference downloads via GraphAPI and converts a sheet to CSV with
openpyxl ``iter_rows(values_only=True)``, dropping all-None rows
(sharepoint/sharepoint.py:87-128). xlsx is a zip of XML parts, so the
parse here is a native stdlib reader (zipfile + ElementTree) — no
openpyxl dependency: shared strings, inline strings, booleans and
numbers are decoded; the first row is the header (lowercased, matching
the engine's header normalization convention).

The parse is a driver-side step by design: SharePoint workbooks are
operator-maintained dimension files (hundreds to thousands of rows),
fetched as a single HTTP object — the distributed path starts at the
DataFrame this returns.
"""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import route

_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_ODOC = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """``'BC12'`` → 0-based column index (54)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in z.namelist():
        return []
    root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    # a <si> is either one <t> or rich-text runs of <r><t> — concat runs
    return [
        "".join(t.text or "" for t in si.iter(f"{_MAIN}t"))
        for si in root.findall(f"{_MAIN}si")
    ]


def _sheet_part(z: zipfile.ZipFile, sheet: str | int) -> str:
    """Resolve a sheet name/position to its worksheet XML part path."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    targets = {
        r.get("Id"): r.get("Target") for r in rels.findall(f"{_RELS}Relationship")
    }
    sheets = wb.find(f"{_MAIN}sheets").findall(f"{_MAIN}sheet")
    if isinstance(sheet, int):
        chosen = sheets[sheet]
    else:
        chosen = next(s for s in sheets if s.get("name") == sheet)
    target = targets[chosen.get(f"{_ODOC}id")]
    return target if target.startswith("xl/") else "xl/" + target.lstrip("/")


def _cell_value(c: ET.Element, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_MAIN}is")
        if is_el is None:
            return None
        return "".join(tt.text or "" for tt in is_el.iter(f"{_MAIN}t"))
    v_el = c.find(f"{_MAIN}v")
    if v_el is None or v_el.text is None:
        return None
    raw = v_el.text
    if t == "s":
        return shared[int(raw)]
    if t == "b":
        return raw == "1"
    if t == "str":  # cached formula result
        return raw
    f = float(raw)
    return int(f) if f.is_integer() else f


def read_xlsx_rows(path: str, sheet: str | int = 0) -> list[list]:
    """Sheet → list of rows (python values), mirroring openpyxl
    ``iter_rows(values_only=True)``: missing cells are None, rows keep
    their sparse width."""
    with zipfile.ZipFile(path) as z:
        shared = _shared_strings(z)
        ws = ET.fromstring(z.read(_sheet_part(z, sheet)))
        rows: list[list] = []
        for row in ws.iter(f"{_MAIN}row"):
            cells: dict[int, object] = {}
            for pos, c in enumerate(row.findall(f"{_MAIN}c")):
                ref = c.get("r")
                ci = _col_index(ref) if ref else pos
                cells[ci] = _cell_value(c, shared)
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
        return rows


def _infer_field(name: str, values: list) -> T.StructField:
    non_null = [v for v in values if v is not None]
    if non_null and all(isinstance(v, bool) for v in non_null):
        dt: T.DataType = T.BooleanType()
    elif non_null and all(isinstance(v, int) and not isinstance(v, bool) for v in non_null):
        dt = T.LongType()
    elif non_null and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in non_null
    ):
        dt = T.DoubleType()
    else:
        dt = T.StringType()
    return T.StructField(name, dt, nullable=True)


def xlsx_to_df(spark: SparkSession, path: str, sheet: str | int = 0) -> DataFrame:
    """Sheet → DataFrame: first row is the header (lowercased), data
    rows padded to the header width, all-None rows dropped (the
    reference's ``if not all(cell is None for cell in row)`` filter at
    sharepoint/sharepoint.py:120-126). Column types are inferred as
    the tightest of boolean/long/double/string per column."""
    rows = read_xlsx_rows(path, sheet)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    header = [str(h).lower() if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    data = [
        tuple((r[i] if i < len(r) else None) for i in range(width))
        for r in rows[1:]
        if not all(v is None for v in r)
    ]
    cols = list(zip(*data)) if data else [[] for _ in header]
    schema = T.StructType(
        [_infer_field(h, list(col)) for h, col in zip(header, cols)]
    )
    # normalize ints appearing in double columns (xlsx numbers are
    # untyped; a column inferred double may hold python ints)
    norm = [
        tuple(
            float(v)
            if isinstance(schema[i].dataType, T.DoubleType) and v is not None
            else (str(v) if isinstance(schema[i].dataType, T.StringType) and v is not None else v)
            for i, v in enumerate(row)
        )
        for row in data
    ]
    return route.driver_frame(spark, norm, schema)


def csv_passthrough(spark: SparkSession, path: str) -> DataFrame:
    """SharePoint .csv passthrough branch (sharepoint.py:95-101)."""
    from .csv_io import read_csv

    return read_csv(spark, path)
