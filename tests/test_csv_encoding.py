"""CSV encoding-fallback tests (S2: utf-8 → latin-1 retry) and the
driver-side header read."""

from __future__ import annotations

import gzip

import pytest
from test_schema_store import _jobs_started

from databridge_etl_tools_spark.sources.csv_io import _READ_OPTS, header_schema, read_csv


def test_latin1_file_falls_back(spark, tmp_path):
    p = tmp_path / "latin.csv"
    # 'café' in latin-1: 0xE9 is not valid UTF-8 → U+FFFD under utf-8
    p.write_bytes(b"id,name\n1,caf\xe9\n2,plain\n")
    df = read_csv(spark, str(p))
    names = {r.id: r.name for r in df.collect()}
    assert names["1"] == "café"  # decoded via the latin-1 retry
    assert names["2"] == "plain"


def test_utf8_file_reads_directly(spark, tmp_path):
    p = tmp_path / "utf8.csv"
    p.write_text("id,name\n1,café\n", encoding="utf-8")
    df = read_csv(spark, str(p))
    assert df.first().name == "café"


def test_huge_cell_tolerated(spark, tmp_path):
    # csv.field_size_limit(sys.maxsize) parity: a 2MB WKT-ish cell
    p = tmp_path / "huge.csv"
    big = "POLYGON((" + ",".join(f"{i} {i}" for i in range(150_000)) + "))"
    p.write_text(f"id,shape\n1,\"{big}\"\n", encoding="utf-8")
    df = read_csv(spark, str(p))
    row = df.first()
    assert len(row.shape) == len(big)


# -- driver-side header schema == Spark's header inference --------------

HEADER_CASES = {
    "duplicates": b"a,A,b,a,B,c\n1,2,3,4,5,6\n",
    "empty_name": b'id,,x,""\n1,2,3,4\n',
    "utf8_bom": b"\xef\xbb\xbfid,name\n1,x\n",
    "quoted_comma_newline": b'"x,y","multi\nline",z\n1,2,3\n',
    "quoted_crlf": b'id,"a\r\nb"\r\n1,2\r\n',
    "latin1": b"id,caf\xe9\n1,2\n",
    "header_only": b"id,name\n",
    "empty_file": b"",
    "blank_lines_first": b"\n\nid,name\n1,x\n",
}


def _inferred_header(spark, path, encoding):
    return spark.read.options(**_READ_OPTS).option("encoding", encoding).csv(path).schema


def _stage(tmp_path, case):
    if case == "part_dir":
        d = tmp_path / "parts"
        d.mkdir()
        (d / "_SUCCESS").write_bytes(b"")
        (d / "part-00000.csv").write_bytes(b"")
        (d / "part-00001.csv").write_bytes(b"k,v\n1,2\n")
        return str(d)
    if case == "gzip":
        p = tmp_path / "staged.csv.gz"
        p.write_bytes(gzip.compress(b"id,val\n1,2\n"))
        return str(p)
    p = tmp_path / f"{case}.csv"
    p.write_bytes(HEADER_CASES[case])
    return str(p)


@pytest.mark.parametrize("encoding", ["utf-8", "iso-8859-1"])
@pytest.mark.parametrize("case", [*HEADER_CASES, "part_dir", "gzip"])
def test_header_schema_matches_spark_inference(spark, tmp_path, case, encoding):
    """The schema read from the header on the driver is exactly what
    Spark's header inference reports: safe-header renames, BOM, quoted
    line breaks, encodings, part-file directories and codecs."""
    path = _stage(tmp_path, case)
    with _jobs_started(spark) as jobs:
        got = header_schema(spark, path, encoding)
    assert jobs == [], "header_schema ran a Spark job"
    assert got == _inferred_header(spark, path, encoding)


def test_header_schema_case_sensitive_duplicates(spark, tmp_path):
    path = _stage(tmp_path, "duplicates")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        got = header_schema(spark, path)
        assert got == _inferred_header(spark, path, "utf-8")
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
    assert got.fieldNames() == ["a0", "A", "b", "a3", "B", "c"]


def test_read_csv_runs_no_inference_job(spark, tmp_path):
    p = tmp_path / "plain.csv"
    p.write_text("id,name\n1,x\n", encoding="utf-8")
    with _jobs_started(spark) as jobs:
        df = read_csv(spark, str(p), fallback_encoding=None)
    assert jobs == [], "read_csv without a probe ran a Spark job"
    assert df.columns == ["id", "name"]


def test_latin1_header_falls_back_without_a_probe(spark, tmp_path):
    # a header that does not decode as UTF-8 switches encoding before
    # any job: the reference retries on a decode error anywhere
    p = tmp_path / "latin_header.csv"
    p.write_bytes(b"id,caf\xe9\n1,x\n")
    with _jobs_started(spark) as jobs:
        df = read_csv(spark, str(p))
    assert jobs == []
    assert df.columns == ["id", "café"]
