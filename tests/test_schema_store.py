"""Schema layer + table-store lifecycle tests (SURVEY §1.2-1.3, §2.6)."""

from __future__ import annotations

import json
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databridge_etl_tools_spark.schema import TableSchema, schema_drift
from databridge_etl_tools_spark.sources.table_store import TableStore, _segs

POINT_SCHEMA = {
    "primaryKey": ["objectid"],
    "fields": [
        {"name": "objectid", "constraints": {"required": True}, "type": "numeric"},
        {"name": "textfield", "type": "text"},
        {"name": "datefield", "format": "fmt:%Y-%m-%d %H:%M:%S", "type": "date"},
        {"name": "numericfield", "type": "numeric"},
        {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
    ],
}


def test_from_json_types_and_metadata():
    ts = TableSchema.from_json(json.dumps(POINT_SCHEMA))
    by_name = {f.name: f for f in ts.struct.fields}
    assert by_name["objectid"].dataType == T.DecimalType(38, 8)
    assert not by_name["objectid"].nullable
    assert by_name["textfield"].dataType == T.StringType()
    assert by_name["datefield"].dataType == T.DateType()
    assert by_name["shape"].dataType == T.StringType()
    assert ts.primary_key == ["objectid"]
    assert ts.geometry_fields == {"shape": {"geometry_type": "Point", "srid": 2272}}


def test_polygon_promotes_to_multipolygon():
    doc = {"fields": [{"name": "shape", "type": "geometry", "geometry_type": "polygon", "srid": 2272}]}
    ts = TableSchema.from_json(doc)
    assert ts.geometry_fields["shape"]["geometry_type"] == "MultiPolygon"


def test_new_schema_pg_types():
    doc = {
        "fields": [
            {"name": "a", "type": "character varying(255)"},
            {"name": "b", "type": "numeric(38,8)"},
            {"name": "c", "type": "timestamp without time zone"},
            {"name": "d", "type": "timestamp with time zone"},
            {"name": "e", "type": "bigint"},
        ]
    }
    ts = TableSchema.from_json(doc)
    got = [f.dataType for f in ts.struct.fields]
    assert got == [
        T.StringType(),
        T.DecimalType(38, 8),
        T.TimestampNTZType(),
        T.TimestampType(),
        T.LongType(),
    ]


def test_roundtrip_to_json():
    ts = TableSchema.from_json(POINT_SCHEMA)
    doc = json.loads(ts.to_json())
    assert doc["primaryKey"] == ["objectid"]
    shape = [f for f in doc["fields"] if f["name"] == "shape"][0]
    assert shape == {"name": "shape", "type": "geometry", "geometry_type": "multipoint", "srid": 2272} or shape["geometry_type"] == "point"


def test_schema_drift_normalizes_varchar_and_ignores_shape():
    expected = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("shape", T.StringType())]
    )
    actual = T.StructType([T.StructField("a", T.StringType())])
    assert schema_drift(expected, actual) == []
    actual2 = T.StructType([T.StructField("a", T.IntegerType())])
    assert any("type drift" in p for p in schema_drift(expected, actual2))


def test_store_lifecycle(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    ts = TableSchema.from_json(POINT_SCHEMA)
    assert store.create_table("t1", ts) is True
    assert store.exists("t1")
    assert store.read("t1").count() == 0
    # idempotent create without drift
    assert store.create_table("t1", ts) is False

    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal(1), "a", None, None, "SRID=2272;POINT(1 2)")], ts.struct
    )
    store.append("t1", df)
    assert store.read("t1").count() == 1

    # truncate keeps schema, empties rows
    store.truncate("t1")
    assert store.read("t1").count() == 0
    # parquet reads back nullable=True; names+types are the contract
    got = [(f.name, f.dataType) for f in store.read("t1").schema.fields]
    assert got == [(f.name, f.dataType) for f in ts.struct.fields]

    # atomic overwrite flips versions
    store.overwrite("t1", df)
    assert store.read("t1").count() == 1

    # drift → recreate drops rows
    drifted = TableSchema(
        struct=T.StructType(
            [T.StructField("objectid", T.StringType())]
        ),
        primary_key=["objectid"],
    )
    assert store.create_table("t1", drifted) is True
    assert store.read("t1").columns == ["objectid"]

    store.drop("t1")
    assert not store.exists("t1")
    store.drop("t1", if_exists=True)
    with pytest.raises(ValueError):
        store.drop("t1", if_exists=False)


def test_store_properties_and_indexes(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh2"))
    ts = TableSchema.from_json(POINT_SCHEMA)
    store.create_table("t2", ts)
    assert store.properties("t2")["primaryKey"] == ["objectid"]
    store.register_index("t2", ["objectid"], "btree")
    store.register_index("t2", ["shape"], "gist")
    assert len(store.properties("t2")["indexes"]) == 2
    stats = store.analyze("t2")
    assert stats == {"rowcount": 0}


def test_incremental_append_is_o_delta(spark, tmp_path):
    """append writes ONLY the delta as a new segment (no rewrite of
    existing data); read unions segments; compact bin-packs back to
    one; vacuum removes unreferenced version dirs."""
    import os

    store = TableStore(spark, str(tmp_path / "inc"))
    df1 = spark.range(0, 100).toDF("id")
    store.overwrite("t", df1)
    seg_before = store._segments("t")
    assert len(seg_before) == 1

    store.append("t", spark.range(100, 150).toDF("id"))
    store.append("t", spark.range(150, 160).toDF("id"))
    segs = store._segments("t")
    assert len(segs) == 3
    assert segs[0] == seg_before[0], "original segment untouched"
    # the delta segment holds only delta rows (O(delta) write)
    base = os.path.join(str(tmp_path / "inc"), "t")
    delta_rows = spark.read.parquet(os.path.join(base, segs[1])).count()
    assert delta_rows == 50
    assert store.read("t").count() == 160
    assert set(r.id for r in store.read("t").collect()) == set(range(160))

    # schema guard: appending a frame missing a column refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing columns"):
        store.append("t", spark.range(5).toDF("other"))

    # compact: back to one segment, same rows
    store.compact("t")
    assert len(store._segments("t")) == 1
    assert store.read("t").count() == 160

    # vacuum: the three pre-compaction dirs are unreferenced now
    removed = store.vacuum("t")
    assert len(removed) == 3
    assert store.read("t").count() == 160
    live = store._segments("t")
    on_disk = [d for d in os.listdir(base) if d.startswith("v-")]
    assert sorted(on_disk) == sorted(live)


def test_append_legacy_single_version_manifest(spark, tmp_path):
    """Tables written before incremental appends (manifest 'current'
    is a string) read and append without migration."""
    import json, os

    store = TableStore(spark, str(tmp_path / "legacy"))
    store.overwrite("t", spark.range(10).toDF("id"))
    # rewrite the manifest in the legacy single-string form
    m = store._read_manifest("t")
    cur = m["current"]
    assert isinstance(cur, (str, list))
    m["current"] = cur if isinstance(cur, str) else cur[0]
    with open(store._manifest("t"), "w") as f:
        json.dump(m, f)

    assert store.read("t").count() == 10
    store.append("t", spark.range(10, 15).toDF("id"))
    assert store.read("t").count() == 15
    assert len(store._segments("t")) == 2


def test_append_additive_schema_evolution(spark, tmp_path):
    """evolve=True appends new columns with the delta; old segments
    read them as NULL; non-additive changes still refuse."""
    store = TableStore(spark, str(tmp_path / "evo"))
    store.overwrite("t", spark.range(10).toDF("id"))

    from pyspark.sql import functions as F

    delta = spark.range(10, 15).toDF("id").withColumn("tag", F.lit("new"))
    with pytest.raises(ValueError, match="adds columns"):
        store.append("t", delta)
    store.append("t", delta, evolve=True)

    got = store.read("t")
    assert set(got.columns) == {"id", "tag"}
    assert got.count() == 15
    assert got.where(F.col("tag").isNull()).count() == 10
    assert got.where(F.col("tag") == "new").count() == 5

    # post-compaction the evolved schema is uniform across files
    store.compact("t")
    assert set(store.read("t").columns) == {"id", "tag"}
    assert store.read("t").where(F.col("tag").isNull()).count() == 10


def test_store_time_travel(spark, tmp_path):
    """history() records every flip; read_version() reads any
    un-vacuumed commit; vacuumed commits raise."""
    import pytest as _pytest

    from databridge_etl_tools_spark.sources.table_store import TableStore

    store = TableStore(spark, str(tmp_path / "tt_store"))
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(1, "a2"), (2, "b")], "k long, v string")
    store.create_table("t", df1.schema)
    store.overwrite("t", df1)
    store.overwrite("t", df2)
    hist = store.history("t")
    assert len(hist) == 3  # create + two overwrites
    assert {r.v for r in store.read_version("t", -1).collect()} == {"a2", "b"}
    assert {r.v for r in store.read_version("t", 1).collect()} == {"a"}
    assert store.read_version("t", 0).count() == 0  # the empty create
    # current read unchanged by the log
    assert {r.v for r in store.read("t").collect()} == {"a2", "b"}
    store.vacuum("t")
    with _pytest.raises(ValueError):
        store.read_version("t", 1)
    assert {r.v for r in store.read_version("t", -1).collect()} == {"a2", "b"}


def test_store_restore_rolls_back(spark, tmp_path):
    import pytest as _pytest

    from databridge_etl_tools_spark.sources.table_store import TableStore

    store = TableStore(spark, str(tmp_path / "rb_store"))
    df1 = spark.createDataFrame([(1, "old")], "k long, v string")
    df2 = spark.createDataFrame([(1, "new")], "k long, v string")
    store.create_table("t", df1.schema)
    store.overwrite("t", df1)
    store.overwrite("t", df2)
    store.restore("t", 1)  # back to df1's commit
    assert [r.v for r in store.read("t").collect()] == ["old"]
    # the restore is itself a commit — re-restore to the df2 state
    assert len(store.history("t")) == 4
    store.restore("t", 2)
    assert [r.v for r in store.read("t").collect()] == ["new"]
    store.vacuum("t")  # current survives, the other version goes
    with _pytest.raises(ValueError):
        store.restore("t", 1)


# -- recorded schema: reads plan without jobs ---------------------------

WIDE = T.StructType(
    [
        T.StructField("id", T.LongType(), False, {"comment": "primary key"}),
        T.StructField(
            "nested",
            T.StructType(
                [
                    T.StructField("x", T.IntegerType(), False),
                    T.StructField("tags", T.ArrayType(T.StringType(), False)),
                ]
            ),
        ),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType(), False)),
        T.StructField("amount", T.DecimalType(12, 3)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
    ]
)


def _wide_rows(lo: int, hi: int):
    return [
        (
            i,
            (i * 2, [f"t{i}"]),
            {"k": float(i)},
            Decimal(i) / 8,
            date(2024, 1, 1 + i % 28),
            datetime(2024, 1, 1, i % 24),
            datetime(2024, 1, 2, i % 24),
        )
        for i in range(lo, hi)
    ]


def _inferred(spark, store, table, segs=None):
    """What Spark infers from the table's segment directories — the
    schema a footer-merging read reports."""
    segs = store._segments(table) if segs is None else segs
    paths = [str(Path(store._dir(table)) / s) for s in segs]
    return spark.read.option("mergeSchema", "true").parquet(*paths).schema


@contextmanager
def _jobs_started(spark):
    """Ids of the Spark jobs started inside the block, read back from
    the status tracker under a unique job group."""
    import uuid

    sc = spark.sparkContext
    group = f"guard-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "zero-job guard")
    started: list = []
    try:
        yield started
    finally:
        started.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_recorded_schema_equals_parquet_inference(spark, tmp_path):
    """read() plans from the recorded schema; it must be exactly what
    inference over the segment directories reports — nested types,
    decimal, date, both timestamps and field metadata included, and
    the footer merge of additively evolved segments."""
    store = TableStore(spark, str(tmp_path / "wide"))
    df = spark.createDataFrame(_wide_rows(0, 20), WIDE)
    store.overwrite("t", df)
    assert store.read("t").schema == _inferred(spark, store, "t")
    assert store.read("t").schema["id"].metadata == {"comment": "primary key"}
    assert store.read("t").count() == 20

    extra = T.StructField(
        "extra",
        T.StructType([T.StructField("note", T.StringType(), False)]),
        False,
        {"comment": "added later"},
    )
    delta = spark.createDataFrame(
        [r + (("n",),) for r in _wide_rows(20, 25)], T.StructType(WIDE.fields + [extra])
    )
    store.append("t", delta, evolve=True)
    got = store.read("t")
    assert len(store._segments("t")) == 2
    assert got.schema == _inferred(spark, store, "t")
    assert got.where(F.col("extra").isNull()).count() == 20
    assert got.where(F.col("extra.note") == "n").count() == 5
    # every commit in the log plans the same way
    for i, entry in enumerate(store.history("t")):
        assert store.read_version("t", i).schema == _inferred(
            spark, store, "t", _segs(entry)
        )


def test_empty_table_schema_matches_an_empty_parquet_version(spark, tmp_path):
    """create_table/truncate write no data; reading the empty state
    reports what inference over an empty parquet write reports."""
    store = TableStore(spark, str(tmp_path / "empty"))
    store.create_table("t", WIDE)
    ref = tmp_path / "ref"
    spark.createDataFrame([], WIDE).write.parquet(str(ref))
    expected = spark.read.parquet(str(ref)).schema
    assert store.read("t").schema == expected
    store.overwrite("t", spark.createDataFrame(_wide_rows(0, 5), WIDE))
    store.truncate("t")
    assert store.read("t").schema == expected
    assert store.read("t").count() == 0


def test_reads_and_empty_lifecycle_start_no_spark_job(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "guard"))
    df = spark.createDataFrame(_wide_rows(0, 10), WIDE)
    store.overwrite("t", df)
    store.append("t", df)

    with _jobs_started(spark) as jobs:
        store.read("t")
    assert jobs == [], "read() planned with a job"
    with _jobs_started(spark) as jobs:
        store.read_version("t", 0)
        store.read_version("t", -1)
    assert jobs == [], "read_version() planned with a job"
    with _jobs_started(spark) as jobs:
        assert store.analyze("t") == {"rowcount": 20}
    assert jobs == [], "analyze() counted with a job"
    with _jobs_started(spark) as jobs:
        store.truncate("t")
        store.read("t")
    assert jobs == [], "truncate() wrote data"
    with _jobs_started(spark) as jobs:
        assert store.create_table("new", WIDE) is True
        assert store.create_table("new", WIDE) is False  # drift check
        store.read("new")
        assert store.analyze("new") == {"rowcount": 0}
    assert jobs == [], "create_table() wrote data"

    # the guard sees a job when one runs
    with _jobs_started(spark) as jobs:
        store.read_version("t", 0).count()
    assert jobs, "guard blind: an action started no job"


def test_empty_table_lifecycle_has_no_data_segment(spark, tmp_path):
    import os

    store = TableStore(spark, str(tmp_path / "life"))
    base = tmp_path / "life" / "t"
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    store.create_table("t", schema)
    assert store._segments("t") == []
    assert not [d for d in os.listdir(base) if d.startswith("v-")]
    assert store.read("t").count() == 0
    assert store.read("t").columns == ["k", "v"]

    rows = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    store.append("t", rows)
    assert len(store._segments("t")) == 1
    assert sorted(r.k for r in store.read("t").collect()) == [1, 2]

    store.truncate("t")
    assert store._segments("t") == []
    assert store.read("t").count() == 0
    assert store.read("t").schema == store.read_version("t", 1).schema

    # restore to the empty create, then back to the appended commit
    store.restore("t", 0)
    assert store._segments("t") == [] and store.read("t").count() == 0
    store.restore("t", 1)
    assert store.read("t").count() == 2
    store.truncate("t")

    # compact of an empty table: nothing to pack, no data segment
    n_commits = len(store.history("t"))
    assert store.compact("t") == 0
    assert store._segments("t") == []
    assert len(store.history("t")) == n_commits
    # vacuum removes every unreferenced version, the table stays readable
    assert len(store.vacuum("t")) == 1
    assert not [d for d in os.listdir(base) if d.startswith("v-")]
    assert store.read("t").count() == 0
    assert store.read_version("t", 0).count() == 0  # nothing to vacuum
    with pytest.raises(ValueError, match="vacuumed"):
        store.read_version("t", 1)
    store.append("t", rows)
    assert store.read("t").count() == 2


def test_legacy_manifest_without_schema_is_inferred_then_recorded(spark, tmp_path):
    """A manifest and log written before schemas were recorded read by
    footer inference; the table's next commit records the schema."""
    store = TableStore(spark, str(tmp_path / "legacy_schema"))
    df = spark.createDataFrame(_wide_rows(0, 6), WIDE)
    store.overwrite("t", df)
    store.append("t", df)
    m = store._read_manifest("t")
    del m["schema"]
    with open(store._manifest("t"), "w") as f:
        json.dump(m, f)
    log = Path(store._dir("t")) / "_commits.jsonl"
    entries = [json.loads(l) for l in log.read_text().splitlines()]
    log.write_text("".join(json.dumps({"current": e["current"]}) + "\n" for e in entries))

    expected = _inferred(spark, store, "t")
    assert store.read("t").schema == expected
    assert store.read("t").count() == 12
    assert store.read_version("t", 0).count() == 6
    assert store._read_manifest("t").get("schema") is None

    store.set_properties("t", owner="ops")  # next commit records it
    assert T.StructType.fromJson(store._read_manifest("t")["schema"]) == expected
    with _jobs_started(spark) as jobs:
        store.read("t")
    assert jobs == []
    store.truncate("t")
    assert store.read("t").schema == expected
    store.restore("t", 0)  # a legacy log entry: inferred again
    assert store.read("t").count() == 6
    assert store.read("t").schema == expected


def test_legacy_empty_version_truncates_and_appends(spark, tmp_path):
    """An empty table written before this layout (an empty parquet
    version, no recorded schema) reads, truncates and appends."""
    store = TableStore(spark, str(tmp_path / "legacy_empty"))
    schema = T.StructType([T.StructField("k", T.LongType())])
    v = store._write_version("t", spark.createDataFrame([], schema))
    with open(store._manifest("t"), "w") as f:
        json.dump({"current": v, "properties": {}}, f)
    assert store.read("t").count() == 0
    store.truncate("t")
    assert store._segments("t") == []
    assert store.read("t").schema == spark.read.parquet(str(Path(store._dir("t")) / v)).schema
    store.append("t", spark.range(3).toDF("k"))
    assert store.read("t").count() == 3


def test_keyed_upsert_reads_pre_evolution_segments_as_null(spark, tmp_path):
    """The bloom/zone-map path reads candidate segments under the
    table's schema: a changed key in a segment written before an
    additive evolution merges with the evolved column as NULL."""
    store = TableStore(spark, str(tmp_path / "evo_keyed"))
    store.BLOOM_MIN_ROWS = 0  # take the data-skipping path on a small table
    base = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string")
    assert store.upsert_epoch("t", base, ["k"], 0, scope="s")
    evolved = spark.createDataFrame(
        [(i, f"v{i}", "x") for i in range(10, 15)], "k long, v string, tag string"
    )
    store.append("t", evolved, evolve=True)
    batch = spark.createDataFrame([(3, "CHANGED", "y"), (20, "new", None)], "k long, v string, tag string")
    assert store.upsert_epoch("t", batch, ["k"], 1, scope="s")
    got = {r.k: (r.v, r.tag) for r in store.read("t").collect()}
    assert len(got) == 16
    assert got[3] == ("CHANGED", "y")
    assert got[4] == ("v4", None)
    assert got[12] == ("v12", "x")
    assert got[20] == ("new", None)
    assert store.read("t").schema == _inferred(spark, store, "t")
