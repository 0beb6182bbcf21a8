"""End-to-end pipeline tests reproducing the reference's round-trip
oracle (tests/test_postgres.py:70-93): load a fixture CSV modeled on
point_table_2272 (empty geometry, NULLs, special characters, QNAN
Z-coords), extract it, load it back, assert recorddiff is empty."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F
from test_schema_store import _jobs_started

from databridge_etl_tools_spark.functions import geoproj as GP
from databridge_etl_tools_spark.plans import pipelines as P
from databridge_etl_tools_spark.qa import QAError, QAReport
from databridge_etl_tools_spark.schema import TableSchema
from databridge_etl_tools_spark.sources.csv_io import read_csv
from databridge_etl_tools_spark.sources.table_store import TableStore

SCHEMA = TableSchema.from_json(
    {
        "primaryKey": ["objectid"],
        "fields": [
            {"name": "objectid", "type": "integer", "constraints": {"required": True}},
            {"name": "textfield", "type": "string"},
            {"name": "datefield", "type": "datetime"},
            {"name": "numericfield", "type": "numeric"},
            {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
        ],
    }
)

CSV = """objectid,textfield,datefield,numericfield,shape
1,,,,SRID=2272;MULTIPOINT EMPTY
2,ab#$%c,2019-05-14 09:06:07,12.54,SRID=2272;POINT(2712205.71100539 259685.27615705)
3,"d!@^&*?-=+ef",2019-05-14 09:06:07,9.99,SRID=2272;POINT(2712205.71 259685.27)
4,"quoted, comma",2020-01-01 00:00:00,-1.5,SRID=2272;POINT Z (2712205.71 259685.27 1.#QNAN000)
5,unicode-é,2020-06-01 12:30:00,0,SRID=2272;POINT(0 0)
"""


@pytest.fixture()
def staged_csv(tmp_path):
    p = tmp_path / "staging" / "point_table.csv"
    p.parent.mkdir(parents=True)
    p.write_text(CSV, encoding="utf-8")
    return str(p)


def test_load_extract_roundtrip(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    res = P.load_pipeline(spark, staged_csv, SCHEMA, store, "point_table", mode="truncate")
    assert res.rows_loaded == 5
    loaded = store.read("point_table")
    assert loaded.count() == 5

    rows = {r.objectid: r for r in loaded.collect()}
    # QNAN Z-coordinate repaired and flattened to 2D
    assert rows[4].shape == "SRID=2272;POINT (2712205.71 259685.27)"
    # empty geometry preserved
    assert rows[1].shape == "SRID=2272;MULTIPOINT EMPTY"
    # typed columns
    assert str(rows[2].numericfield) == "12.54000000"
    assert rows[2].datefield.year == 2019

    # extract to CSV + schema sidecar
    out = str(tmp_path / "extract_out")
    eres = P.extract_pipeline(spark, store, "point_table", out, localize_timestamps=False)
    assert eres.rows == 5
    assert '"primaryKey"' in eres.schema_json

    # round-trip: load the extracted CSV into a second table → no diff
    res2 = P.load_pipeline(spark, out, SCHEMA, store, "point_table_rt", mode="truncate")
    assert res2.rows_loaded == 5
    a, b = store.read("point_table"), store.read("point_table_rt")
    qa = QAReport()
    qa.record_diff_empty(a, b)
    qa.raise_if_failed()


def test_extract_localizes_timestamps(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    out = str(tmp_path / "loc_out")
    P.extract_pipeline(spark, store, "pt", out, localize_timestamps=True)
    back = read_csv(spark, out)
    vals = {r.objectid: r.datefield for r in back.collect()}
    assert vals["2"] == "2019-05-14 09:06:07-04:00"  # EDT
    assert vals["4"] == "2020-01-01 00:00:00-05:00"  # EST


def test_load_append_mode_accumulates(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="append")
    assert store.read("pt").count() == 10


def test_load_field_mismatch_fails_before_write(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("objectid,unknown_col\n1,x\n")
    store = TableStore(spark, str(tmp_path / "wh"))
    with pytest.raises(QAError) as ei:
        P.load_pipeline(spark, str(bad), SCHEMA, store, "pt_bad", mode="truncate")
    assert "V5" in str(ei.value)
    # QA preconditions run before ANY store mutation: no table created
    assert not store.exists("pt_bad")


def test_geometry_precheck_blocks_wrong_kind(spark, tmp_path):
    wrong = tmp_path / "wrong_geom.csv"
    wrong.write_text(
        "objectid,textfield,datefield,numericfield,shape\n"
        "1,a,2020-01-01 00:00:00,1,SRID=2272;LINESTRING(0 0, 1 1)\n"
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    with pytest.raises(QAError) as ei:
        P.load_pipeline(spark, str(wrong), SCHEMA, store, "pt_geom", mode="truncate")
    assert "V6" in str(ei.value)


def test_upsert_pipeline_updates_and_inserts(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    delta = tmp_path / "delta.csv"
    delta.write_text(
        "objectid,textfield,datefield,numericfield,shape\n"
        "2,UPDATED,2021-01-01 00:00:00,99.9,SRID=2272;POINT(1 1)\n"
        "6,NEW,2021-01-01 00:00:00,1,SRID=2272;POINT(2 2)\n"
    )
    res = P.upsert_pipeline(spark, str(delta), SCHEMA, store, "pt")
    assert res.final_count == 6
    rows = {r.objectid: r for r in store.read("pt").collect()}
    assert rows[2].textfield == "UPDATED"
    assert rows[6].textfield == "NEW"
    assert rows[1].shape == "SRID=2272;MULTIPOINT EMPTY"  # untouched


def test_upsert_delete_stale(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    delta = tmp_path / "delta.csv"
    delta.write_text(
        "objectid,textfield,datefield,numericfield,shape\n"
        "2,KEEP,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
        "3,KEEP,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
    )
    res = P.upsert_pipeline(spark, str(delta), SCHEMA, store, "pt", delete_stale_rows=True)
    assert res.final_count == 2
    assert {r.objectid for r in store.read("pt").collect()} == {2, 3}


def test_geometry_precheck_catches_truncated_wkt(spark, tmp_path):
    # an unquoted comma inside the WKT cell truncates it at CSV parse
    # time — V6 must block the load (structural parens check)
    bad = tmp_path / "trunc.csv"
    bad.write_text(
        "objectid,textfield,datefield,numericfield,shape\n"
        "1,a,2020-01-01 00:00:00,1,SRID=2272;POINT(1\n"
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    with pytest.raises(QAError) as ei:
        P.load_pipeline(spark, str(bad), SCHEMA, store, "pt_trunc", mode="truncate")
    assert "V6" in str(ei.value)


def test_publish_opendata_reprojects_and_gzips(spark, tmp_path, staged_csv):
    import glob

    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    out = str(tmp_path / "pub")
    P.publish_opendata(spark, store, "pt", out)
    back = read_csv(spark, out)
    assert "shape" not in back.columns
    rows = {r.objectid: r for r in back.collect()}
    # 2272 fixture points land in/near Philadelphia after reprojection
    lng, lat = float(rows["2"].lng), float(rows["2"].lat)
    assert -75.5 < lng < -74.8 and 39.8 < lat < 40.2
    # empty geometry row → null lat/lng
    assert rows["1"].lng is None
    assert glob.glob(out + "_gz/*.csv.gz")


MIXED_SCHEMA = TableSchema.from_json(
    {
        "primaryKey": ["objectid"],
        "fields": [
            {"name": "objectid", "type": "integer", "constraints": {"required": True}},
            {"name": "textfield", "type": "string"},
            {"name": "shape", "type": "geometry", "geometry_type": "point"},
        ],
    }
)


def test_publish_mixed_srids_compiles_without_fallback(spark, tmp_path):
    """The reprojection CASE must fit whole-stage codegen: with the
    interpreted fallback switched off, a too-large generated method
    ("Code grows beyond 64 KB") fails the publish instead of silently
    running slow. The table is file-backed on purpose: a local
    (createDataFrame) relation is folded on the driver and never
    reaches codegen."""
    lonlat = {1: (-75.1635, 39.9528), 2: (-75.05, 40.05), 5: (-75.2, 39.9)}
    pa = spark.createDataFrame(
        [(k, lon, lat) for k, (lon, lat) in lonlat.items()], "k int, lon double, lat double"
    )
    e_ft, n_ft = GP.lonlat_to_pa_south_ft(F.col("lon"), F.col("lat"))
    ft = {r.k: (r.e, r.n) for r in pa.select("k", e_ft.alias("e"), n_ft.alias("n")).collect()}
    mx = 6378137.0 * math.radians(-75.1)
    my = 6378137.0 * math.log(math.tan(math.pi / 4 + math.radians(39.95) / 2))
    base = tmp_path / "mixed.csv"
    base.write_text(
        "objectid,textfield,shape\n"
        f"1,lcc,SRID=2272;POINT({ft[1][0]!r} {ft[1][1]!r})\n"
        f"2,lcc,SRID=2272;POINT({ft[2][0]!r} {ft[2][1]!r})\n"
        f"3,merc,SRID=3857;POINT({mx!r} {my!r})\n"
        "4,lonlat,SRID=4326;POINT(-75.25 40.01)\n"
        "6,unsupported,SRID=2263;POINT(988000 200000)\n"
    )
    delta = tmp_path / "delta.csv"
    delta.write_text(
        "objectid,textfield,shape\n"
        "2,updated,SRID=4326;POINT(-75.0 40.1)\n"
        f"5,new,SRID=2272;POINT({ft[5][0]!r} {ft[5][1]!r})\n"
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        P.load_pipeline(spark, str(base), MIXED_SCHEMA, store, "mixed", mode="truncate")
        assert P.upsert_pipeline(spark, str(delta), MIXED_SCHEMA, store, "mixed").final_count == 6
        P.extract_pipeline(spark, store, "mixed", str(tmp_path / "extract.csv"))
        out = str(tmp_path / "pub")
        qa = P.publish_opendata(spark, store, "mixed", out)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)

    back = read_csv(spark, out)
    assert back.columns == ["objectid", "textfield", "lng", "lat"]
    rows = {int(r.objectid): r for r in back.collect()}
    got = {k: (float(r.lng), float(r.lat)) for k, r in rows.items() if r.lng is not None}
    want = {1: lonlat[1], 2: (-75.0, 40.1), 3: (-75.1, 39.95), 4: (-75.25, 40.01), 5: lonlat[5]}
    assert got.keys() == want.keys()
    for k, (lon, lat) in want.items():
        assert abs(got[k][0] - lon) < 1e-7 and abs(got[k][1] - lat) < 1e-7, (k, got[k])
    assert rows[6].lng is None and rows[6].lat is None
    detail = next(c.detail for c in qa.checks if c.name == "metric[published_coordinates]")
    assert "unsupported_srid=1" in detail


def test_publish_projection_plan_stays_small(spark, tmp_path, staged_csv, monkeypatch):
    """Guard against a repeated subtree coming back into the publish
    reprojection: Spark copies a subexpression per reference, so a
    step that reads its input twice doubles the plan per unrolled
    iteration (about 180k characters for the six LCC latitude steps,
    which fails the 64 KB compile). The linear form is about 4.5k."""
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    written = []
    real_write_csv = P.write_csv

    def capture(df, path, **kw):
        written.append(df)
        return real_write_csv(df, path, **kw)

    monkeypatch.setattr(P, "write_csv", capture)
    P.publish_opendata(spark, store, "pt", str(tmp_path / "pub"))
    plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, (
        f"publish projection plan is {len(plan)} characters; a subexpression "
        "is probably referenced more than once per unrolled step"
    )


def test_load_rename_replace_recreates_on_drift(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    # drifted schema (extra column) → rename_replace drops + recreates
    drifted = TableSchema.from_json(
        {
            "primaryKey": ["objectid"],
            "fields": [
                {"name": "objectid", "type": "integer", "constraints": {"required": True}},
                {"name": "textfield", "type": "string"},
                {"name": "datefield", "type": "datetime"},
                {"name": "numericfield", "type": "numeric"},
                {"name": "extra", "type": "string"},
                {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
            ],
        }
    )
    csv2 = tmp_path / "staging2.csv"
    csv2.write_text(
        "objectid,textfield,datefield,numericfield,extra,shape\n"
        "9,x,2022-01-01 00:00:00,1,e,SRID=2272;POINT(1 2)\n"
    )
    res = P.load_pipeline(spark, str(csv2), drifted, store, "pt", mode="rename_replace")
    assert res.recreated is True
    out = store.read("pt")
    assert "extra" in out.columns and out.count() == 1


def test_drift_recreate_blocked_by_failing_precheck(spark, tmp_path, staged_csv):
    # the severe case from review: drifted schema + malformed geometry
    # must NOT drop existing data (QA precedes the drift drop)
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    assert store.read("pt").count() == 5

    drifted = TableSchema.from_json(
        {
            "primaryKey": ["objectid"],
            "fields": [
                {"name": "objectid", "type": "integer", "constraints": {"required": True}},
                {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
            ],
        }
    )
    bad = tmp_path / "bad_geom.csv"
    bad.write_text("objectid,shape\n1,SRID=2272;POINT(1\n")
    with pytest.raises(QAError):
        P.load_pipeline(spark, str(bad), drifted, store, "pt", mode="rename_replace")
    # prior data fully intact — no drop/recreate happened
    assert store.read("pt").count() == 5
    assert "textfield" in store.read("pt").columns


def test_upsert_synthesizes_objectid_with_oid_swap(spark, tmp_path):
    # PK is textfield-like 'code'; objectid is DB-managed: matched
    # rows keep their objectid, new rows continue past max(existing)
    schema = TableSchema.from_json(
        {
            "primaryKey": ["code"],
            "fields": [
                {"name": "objectid", "type": "integer"},
                {"name": "code", "type": "string", "constraints": {"required": True}},
                {"name": "val", "type": "integer"},
            ],
        }
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    base = tmp_path / "base.csv"
    base.write_text("objectid,code,val\n10,a,1\n20,b,2\n")
    P.load_pipeline(spark, str(base), schema, store, "t", mode="truncate")

    delta = tmp_path / "delta.csv"
    delta.write_text("code,val\nb,99\nc,3\n")  # no objectid column
    P.upsert_pipeline(spark, str(delta), schema, store, "t")
    rows = {r.code: r for r in store.read("t").collect()}
    assert rows["b"].objectid == 20 and rows["b"].val == 99  # oid kept
    assert rows["a"].objectid == 10 and rows["a"].val == 1
    assert rows["c"].objectid > 20 and rows["c"].val == 3  # fresh id


def test_dense_ids_no_global_sort(spark):
    from databridge_etl_tools_spark.operators.util import dense_ids

    df = spark.range(0, 1000, 1, 8).selectExpr("id AS payload")
    out = dense_ids(df, base=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the whole point: no single-partition Exchange, no global Sort
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()
    ids = sorted(r.objectid for r in out.collect())
    assert ids == list(range(101, 1101))  # dense, continuous, offset by base
    assert out.rdd.getNumPartitions() == 8


# ---------------------------------------------------------------------
# V8 under write-then-check-then-commit: the QA metrics are observed on
# the segment write, and nothing is committed until they pass
# ---------------------------------------------------------------------

HEADER = "objectid,textfield,datefield,numericfield,shape\n"
DRIFTED = TableSchema.from_json(
    {
        "primaryKey": ["objectid"],
        "fields": [
            {"name": "objectid", "type": "integer", "constraints": {"required": True}},
            {"name": "extra", "type": "string"},
            {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
        ],
    }
)


def _table_files(store, table):
    """Bytes of the manifest and the commit log."""
    base = os.path.join(store.root, table)
    return {n: open(os.path.join(base, n), "rb").read() for n in ("MANIFEST.json", "_commits.jsonl")}


def _version_dirs(store, table):
    return sorted(e for e in os.listdir(os.path.join(store.root, table)) if e.startswith("v-"))


def test_header_only_load_fails_v1_and_commits_nothing(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    before, live = _table_files(store, "pt"), store._segments("pt")
    empty = tmp_path / "header_only.csv"
    empty.write_text(HEADER)
    for mode in ("truncate", "append"):
        with pytest.raises(QAError) as ei:
            P.load_pipeline(spark, str(empty), SCHEMA, store, "pt", mode=mode)
        assert "V1" in str(ei.value)
        assert _table_files(store, "pt") == before
    assert store.read("pt").count() == 5
    # the checked-and-refused segments are written, never referenced
    orphans = [v for v in _version_dirs(store, "pt") if v not in live]
    assert len(orphans) == 2
    assert sorted(store.vacuum("pt")) == orphans
    assert _version_dirs(store, "pt") == live


def test_failed_drift_recreate_keeps_old_table(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate", indexes=[["objectid"]])
    before, props = _table_files(store, "pt"), store.properties("pt")
    empty = tmp_path / "drifted_header_only.csv"
    empty.write_text("objectid,extra,shape\n")
    with pytest.raises(QAError) as ei:
        P.load_pipeline(spark, str(empty), DRIFTED, store, "pt", mode="rename_replace")
    assert "V1" in str(ei.value)
    assert _table_files(store, "pt") == before
    assert store.properties("pt") == props and props["indexes"]
    out = store.read("pt")
    assert out.columns == ["objectid", "textfield", "datefield", "numericfield", "shape"]
    assert out.count() == 5


def test_repeated_truncate_load_registers_index_once(spark, tmp_path, staged_csv):
    """A daily truncate load keeps the table's properties; registering
    the same index again must not append a second copy."""
    store = TableStore(spark, str(tmp_path / "wh"))
    for _ in range(2):
        P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate", indexes=[["objectid"]])
    assert store.properties("pt")["indexes"] == [{"columns": ["objectid"], "kind": "btree"}]


def test_failed_load_into_missing_table_leaves_it_absent(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    empty = tmp_path / "header_only.csv"
    empty.write_text(HEADER)
    with pytest.raises(QAError):
        P.load_pipeline(spark, str(empty), SCHEMA, store, "pt_new", mode="append")
    assert not store.exists("pt_new")
    assert not os.path.exists(os.path.join(store.root, "pt_new"))


LATIN1_ROW = b"7,caf\xe9,2020-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"


def test_latin1_load_commits_one_segment(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes(HEADER.encode() + LATIN1_ROW)
    store = TableStore(spark, str(tmp_path / "wh"))
    res = P.load_pipeline(spark, str(p), SCHEMA, store, "pt", mode="truncate")
    assert res.rows_loaded == 1 and res.recreated
    assert [r.textfield for r in store.read("pt").collect()] == ["café"]
    # the UTF-8 attempt's segment was discarded, not left behind
    assert _version_dirs(store, "pt") == store._segments("pt")
    assert len(store._segments("pt")) == 1


def test_latin1_upsert_commits_one_segment(spark, tmp_path, staged_csv):
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    old = store._segments("pt")
    p = tmp_path / "latin_delta.csv"
    p.write_bytes(HEADER.encode() + LATIN1_ROW)
    res = P.upsert_pipeline(spark, str(p), SCHEMA, store, "pt")
    assert res.staged == 1 and res.final_count == 6
    assert {r.objectid: r.textfield for r in store.read("pt").collect()}[7] == "café"
    new = store._segments("pt")
    assert len(new) == 1 and new[0] not in old
    assert _version_dirs(store, "pt") == sorted(old + new)


def test_upsert_staged_counts_duplicate_keys_once(spark, tmp_path, staged_csv):
    """Duplicate staged keys feed the merge and the stale-row delete;
    the observed counts still count each staged row exactly once."""
    store = TableStore(spark, str(tmp_path / "wh"))
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    delta = tmp_path / "dups.csv"
    delta.write_text(
        HEADER
        + "2,first,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
        + "2,second,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
        + "3,x,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
        + "2,first,2021-01-01 00:00:00,1,SRID=2272;POINT(1 1)\n"
    )
    for stale in (True, False):
        res = P.upsert_pipeline(spark, str(delta), SCHEMA, store, "pt", delete_stale_rows=stale)
        assert res.staged == 4
        assert not res.qa.failures
    assert res.final_count == 2
    assert {r.objectid: r.textfield for r in store.read("pt").collect()} == {2: "first", 3: "x"}


def test_staged_pipelines_scan_input_once(spark, tmp_path, staged_csv):
    """Job-count guard: the QA metrics ride on the write, so each span
    is its write plus the bounded V6 sample and the V7 smoke select."""
    store = TableStore(spark, str(tmp_path / "wh"))
    steps = [
        ("load", 3, lambda: P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")),
        ("append", 3, lambda: P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="append")),
        ("upsert", 4, lambda: P.upsert_pipeline(spark, staged_csv, SCHEMA, store, "pt", delete_stale_rows=True)),
        ("extract", 1, lambda: P.extract_pipeline(spark, store, "pt", str(tmp_path / "x"), localize_timestamps=False)),
        ("publish", 3, lambda: P.publish_opendata(spark, store, "pt", str(tmp_path / "pub"))),
    ]
    for name, most, fn in steps:
        with _jobs_started(spark) as jobs:
            fn()
        assert len(jobs) <= most, f"{name} ran {len(jobs)} Spark jobs, at most {most} expected"


def test_load_commits_one_flip_with_rowcount(spark, tmp_path, staged_csv):
    """The analyze row count rides on the data flip: a load without
    ``indexes`` adds exactly one commit-log entry, whether it creates,
    truncates or appends, and ``rowcount`` equals the table's rows."""
    store = TableStore(spark, str(tmp_path / "wh"))
    log = os.path.join(store.root, "pt", "_commits.jsonl")

    def entries():
        with open(log) as f:
            return len(f.readlines())

    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    assert entries() == 1
    assert store.properties("pt")["rowcount"] == 5
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="truncate")
    assert entries() == 2
    assert store.properties("pt")["rowcount"] == 5
    P.load_pipeline(spark, staged_csv, SCHEMA, store, "pt", mode="append")
    assert entries() == 3
    assert store.properties("pt")["rowcount"] == 10 == store.row_count("pt")
