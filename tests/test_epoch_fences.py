"""Round-14 replay-fence hardening (r13 ADVICE items):

- per-scope epoch watermarks (``epoch_marks`` map): a table fed from
  two checkpoints over its life still fences a genuine replay from
  the EARLIER scope after the later one committed (Delta keeps one
  txnVersion per txnAppId for exactly this);
- SCD2 content fence: a checkpoint RESET re-listing already-applied
  snapshots must not re-apply them onto the evolved history
  (re-application is not idempotent — stale close/reopen dates);
- ``upsert_epoch`` intra-batch duplicate keys with no staging_order
  RAISE (ON CONFLICT parity) instead of landing twice;
- ``append_epoch`` segment accretion is bounded by SEGMENT_BUDGET
  (auto-compaction inside the epoch flip);
- ``checkpoint_identity`` never degrades silently: remote dirs raise,
  local fallback warns;
- ``pagerank_py`` refuses mixed 2-/3-tuple edge lists;
- ``drain_fenced`` under a crash between commits: a re-drain of the
  same checkpoint commits only the lagging tables and never re-runs
  a fully committed epoch.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.sources.table_store import TableStore
from databridge_etl_tools_spark.streaming import events as SE


def test_epoch_marks_fence_survives_scope_failover(spark, tmp_path):
    """Failover scenario from the r13 ADVICE: checkpoint A commits
    epochs 0-2, ops fail over to fresh checkpoint B (epochs renumber
    from 0), B commits 0-1, then a botched failback restarts A's
    checkpoint — which replays A's epoch 2. The single-slot watermark
    (latest writer wins) would treat it as new; the per-scope map
    still fences it."""
    store = TableStore(spark, str(tmp_path / "store"))
    df = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    for e in range(3):
        assert store.upsert_epoch("t", df([(e, "a")]), ["k"], e, scope="A")
    assert store.upsert_epoch("t", df([(10, "x")]), ["k"], 0, scope="B")
    assert store.upsert_epoch("t", df([(11, "y")]), ["k"], 1, scope="B")
    # genuine replay from the earlier scope: must be fenced
    assert store.epoch_seen("t", 2, scope="A") is True
    assert store.upsert_epoch("t", df([(2, "STALE")]), ["k"], 2, scope="A") is False
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got[2] == "a"
    # but scope A's genuinely-new epoch 3 processes
    assert store.upsert_epoch("t", df([(3, "b")]), ["k"], 3, scope="A")
    marks = store.properties("t")["epoch_marks"]
    assert marks["A"] == 3 and marks["B"] == 1


def test_epoch_marks_migrates_legacy_single_slot(spark, tmp_path):
    """Tables written before the map existed carry only the legacy
    (epoch_scope, last_epoch) slot; the map view migrates read-side."""
    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    v = store._write_version("t", df)
    store._flip("t", v, {"last_epoch": 5, "epoch_scope": "old"})
    assert store.epoch_seen("t", 5, scope="old") is True
    assert store.epoch_seen("t", 6, scope="old") is False
    assert store.epoch_seen("t", 5, scope="new") is False
    # unscoped legacy compare still works
    assert store.epoch_seen("t", 5) is True


def test_upsert_epoch_intra_batch_dup_raises_without_order(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="conflicting intra-batch"):
        store.upsert_epoch("t", dup, ["k"], 0, scope="s")
    # nothing half-committed: table absent, watermark unset
    assert not store.exists("t")
    ok = spark.createDataFrame([(1, "a")], "k long, v string")
    assert store.upsert_epoch("t", ok, ["k"], 0, scope="s") is True
    with pytest.raises(ValueError, match="conflicting intra-batch"):
        store.upsert_epoch("t", dup, ["k"], 1, scope="s")
    # staging_order resolves the tie deterministically instead
    # (first-wins in staging_order's ascending sort: "a" < "b")
    assert store.upsert_epoch(
        "t", dup, ["k"], 1, scope="s", staging_order=["v"]
    ) is True
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a"}


def test_upsert_epoch_identical_dup_rows_collapse(spark, tmp_path):
    """At-least-once redelivery landing the SAME row twice in one
    micro-batch has a well-defined winner — it must collapse, not
    kill the sink (r14 review finding)."""
    store = TableStore(spark, str(tmp_path / "store"))
    dup = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k long, v string"
    )
    assert store.upsert_epoch("t", dup, ["k"], 0, scope="s") is True
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "b"}
    # same on the table-exists path
    dup2 = spark.createDataFrame(
        [(3, "c"), (3, "c")], "k long, v string"
    )
    assert store.upsert_epoch("t", dup2, ["k"], 1, scope="s") is True
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_epoch_scope_retention_cap(spark, tmp_path):
    """The per-scope watermark map is bounded: scopes beyond the most
    recent EPOCH_SCOPE_RETENTION are forgotten (Delta's txnAppId
    retention shape), least-recently-written evicted first."""
    store = TableStore(spark, str(tmp_path / "store"))
    cap = TableStore.EPOCH_SCOPE_RETENTION
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for i in range(cap + 5):
        store.commit_epoch("t", df, 0, scope=f"s{i}")
    marks = store.properties("t")["epoch_marks"]
    assert len(marks) == cap
    # the oldest five evicted, the newest retained
    assert f"s{cap + 4}" in marks and "s0" not in marks
    # an evicted scope's replay is no longer fenced (documented
    # retention trade — same as Delta past the retention window)
    assert store.epoch_seen("t", 0, scope="s0") is False
    assert store.epoch_seen("t", 0, scope=f"s{cap + 4}") is True


def test_append_epoch_segment_budget_bounds_accretion(spark, tmp_path):
    """An adversarial every-batch-appends workload must not accrete
    unbounded segments: at SEGMENT_BUDGET the next commit folds the
    table into one segment inside the same atomic flip, so segment
    count stays <= budget and reads never merge more than budget
    parquet footers."""
    store = TableStore(spark, str(tmp_path / "store"))
    budget = 4
    for e in range(12):
        d = spark.createDataFrame([(e, f"v{e}")], "k long, v string")
        assert store.append_epoch("t", d, e, scope="s", segment_budget=budget)
        assert len(store._segments("t")) <= budget
    assert store.read("t").count() == 12
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {e: f"v{e}" for e in range(12)}
    # replay fence still intact through compacting commits
    assert store.append_epoch(
        "t",
        spark.createDataFrame([(99, "x")], "k long, v string"),
        11,
        scope="s",
    ) is False


def test_scd2_content_fence_blocks_checkpoint_reset_replay(spark, tmp_path):
    """The r13 ADVICE data-corruption scenario: drain snapshots under
    checkpoint A, then DELETE the checkpoint and drain the same staged
    files again (fresh checkpoint = new scope, epochs renumber). The
    epoch fence alone would re-apply every old snapshot onto the
    evolved history (stale close/reopen dates); the scd2_max_date
    content fence skips them, leaving the history bit-identical."""
    stage = tmp_path / "snaps"
    stage.mkdir()
    ck = tmp_path / "ck"
    store = TableStore(spark, str(tmp_path / "store"))
    s1 = spark.createDataFrame(
        [(1, "alice", "philly"), (2, "bob", "nyc")],
        "id long, name string, city string",
    ).withColumn("snapshot_date", F.lit("2024-01-01").cast("date"))
    s2 = spark.createDataFrame(
        [(1, "alice", "boston"), (2, "bob", "nyc")],
        "id long, name string, city string",
    ).withColumn("snapshot_date", F.lit("2024-02-01").cast("date"))
    s1.coalesce(1).write.parquet(str(stage / "d=1"))
    s2.coalesce(1).write.parquet(str(stage / "d=2"))

    def drain():
        stream = (
            spark.readStream.schema(
                "id long, name string, city string, snapshot_date date"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage) + "/*")
        )
        SE.stream_scd2_into_store(
            stream, store, "dim", ["id"], ["name", "city"], str(ck)
        )

    drain()
    want = sorted(map(tuple, store.read("dim").collect()))
    # alice has two versions (philly closed at 2024-02-01), bob one
    assert len(want) == 3
    assert store.properties("dim")["scd2_max_date"] == "2024-02-01"

    # checkpoint reset: same staged files, fresh checkpoint identity
    import shutil

    shutil.rmtree(ck)
    drain()
    got = sorted(map(tuple, store.read("dim").collect()))
    assert got == want, "reset-checkpoint replay corrupted SCD2 history"

    # a genuinely NEW snapshot after the reset still applies
    s3 = spark.createDataFrame(
        [(1, "alice", "chicago"), (2, "bob", "nyc")],
        "id long, name string, city string",
    ).withColumn("snapshot_date", F.lit("2024-03-01").cast("date"))
    s3.coalesce(1).write.parquet(str(stage / "d=3"))
    drain()
    rows = store.read("dim").collect()
    assert len(rows) == 4  # alice gained a third version
    assert store.properties("dim")["scd2_max_date"] == "2024-03-01"


def test_checkpoint_identity_remote_raises_local_fallback_warns(tmp_path):
    with pytest.raises(ValueError, match="non-local checkpoint dir"):
        SE.checkpoint_identity("s3a://bucket/ck")
    with pytest.raises(ValueError, match="non-local checkpoint dir"):
        SE.checkpoint_identity("hdfs://nn/ck")
    ck = tmp_path / "ck"
    ck.mkdir()
    with pytest.warns(RuntimeWarning, match="no readable metadata"):
        assert SE.checkpoint_identity(str(ck)) == os.path.abspath(str(ck))
    (ck / "metadata").write_text(json.dumps({"id": "qid-1"}))
    assert SE.checkpoint_identity(str(ck)) == "qid-1"
    # file:// URIs are local: same resolution
    assert SE.checkpoint_identity("file://" + str(ck)) == "qid-1"


def test_pagerank_py_rejects_mixed_arity_edges():
    from databridge_etl_tools_spark.operators.graph import pagerank_py

    with pytest.raises(ValueError, match="mixed 2- and 3-tuple"):
        pagerank_py([(1, 2, 5), (2, 1)])
    with pytest.raises(ValueError, match="mixed 2- and 3-tuple"):
        pagerank_py([(1, 2), (2, 1, 3)])
    # homogeneous lists still work
    assert pagerank_py([(1, 2), (2, 1)])
    assert pagerank_py([(1, 2, 2), (2, 1, 3)])


def _stage_events(spark, path):
    """Three files of the sf0.001 events → three micro-batches under
    ``read_event_stream`` (maxFilesPerTrigger=1), split by day."""
    from databridge_etl_tools_spark.registry import table as load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(600).cache()
    day = F.dayofmonth("ts")
    ev.where(day <= 10).coalesce(1).write.parquet(path)
    ev.where((day > 10) & (day <= 20)).coalesce(1).write.mode("append").parquet(path)
    ev.where(day > 20).coalesce(1).write.mode("append").parquet(path)
    return ev


def _crash_once(monkeypatch, store, method, table, epoch_id):
    """Make ``store.<method>`` raise once for ``(table, epoch_id)``;
    returns the list the injected crash is recorded in."""
    real = getattr(store, method)
    crashed = []

    def flaky(tbl, df, *args, **kwargs):
        epoch = args[1] if method == "upsert_epoch" else args[0]
        if tbl == table and epoch == epoch_id and not crashed:
            crashed.append((tbl, epoch))
            raise RuntimeError(f"injected crash before the {tbl} commit")
        return real(tbl, df, *args, **kwargs)

    monkeypatch.setattr(store, method, flaky)
    return crashed


def test_drain_fenced_never_reruns_a_committed_epoch(spark, tmp_path):
    """A step that commits and then crashes: the re-drain replays the
    epoch, finds nothing pending and never calls the step for it."""
    staging = str(tmp_path / "staging")
    _stage_events(spark, staging)
    store = TableStore(spark, str(tmp_path / "store"))
    ck = str(tmp_path / "ck")
    calls = []

    def step(batch, epoch_id, scope, pending):
        calls.append((epoch_id, list(pending)))
        store.commit_epoch("t", batch.select("event_id"), epoch_id, scope=scope)
        if epoch_id == 0 and len(calls) == 1:
            raise RuntimeError("injected crash after the commit")

    with pytest.raises(Exception, match="injected crash after the commit"):
        SE.drain_fenced(SE.read_event_stream(spark, staging), store, ["t"], ck, step)
    assert calls == [(0, ["t"])]
    assert len(store.history("t")) == 1

    calls.clear()
    SE.drain_fenced(SE.read_event_stream(spark, staging), store, ["t"], ck, step)
    assert calls == [(1, ["t"]), (2, ["t"])]
    assert len(store.history("t")) == 3


def test_rollup_drain_crash_between_hourly_and_daily(spark, tmp_path, monkeypatch):
    """The DAILY commit of one micro-batch crashes after its HOURLY
    fold committed. The re-drain replays the epoch with only DAILY
    pending; DAILY re-derives from HOURLY, and both equal the batch
    cascade. Fencing on HOURLY alone would leave DAILY stale."""
    from databridge_etl_tools_spark.plans import rollups as R

    staging = str(tmp_path / "staging")
    ev = _stage_events(spark, staging)
    store = TableStore(spark, str(tmp_path / "store"))
    ck = str(tmp_path / "ck")
    crashed = _crash_once(monkeypatch, store, "commit_epoch", R.DAILY, 1)

    with pytest.raises(Exception, match="injected crash"):
        SE.stream_rollup_into_store(SE.read_event_stream(spark, staging), store, ck)
    assert crashed == [(R.DAILY, 1)]
    assert store.epoch_seen(R.HOURLY, 1, SE.checkpoint_identity(ck))
    assert not store.epoch_seen(R.DAILY, 1, SE.checkpoint_identity(ck))

    SE.stream_rollup_into_store(SE.read_event_stream(spark, staging), store, ck)

    batch_store = TableStore(spark, str(tmp_path / "batch"))
    R.refresh_rollups(spark, batch_store, ev)
    for tbl in (R.HOURLY, R.DAILY):
        got = {tuple(r) for r in store.read(tbl).collect()}
        want = {tuple(r) for r in batch_store.read(tbl).collect()}
        assert got == want, f"{tbl} diverged from the batch cascade"


def test_lid_drain_crash_between_scored_and_quarantine(spark, tmp_path, monkeypatch):
    """The quarantine commit of epoch 0 crashes after the scored
    commit landed. The re-drain of the same checkpoint leaves the
    scored table's commit log as it was, catches the quarantine up,
    and both tables equal an uncrashed run."""
    from databridge_etl_tools_spark.operators.lid import LANGS, lid_fit, plant_markers
    from databridge_etl_tools_spark.registry import table as load_table
    from databridge_etl_tools_spark.streaming import curation as C

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    models = lid_fit(docs)
    for m, lg in zip(models, LANGS):
        m["label"] = lg
    staged = plant_markers(docs.filter(F.col("doc_id") < 80)).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(
        spark.createDataFrame(
            [(9001, "ab", "en", "s", 2)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    staging = str(tmp_path / "stage")
    staged.coalesce(1).write.parquet(staging)

    def drain(store, ck):
        C.lid_stream_into_store(
            C.read_document_stream(spark, staging), models, store,
            "sc", "quar", str(ck), margin_threshold=0.5,
        )

    def rows(store, tbl):
        return sorted(map(tuple, store.read(tbl).collect()))

    clean = TableStore(spark, str(tmp_path / "clean"))
    drain(clean, tmp_path / "ck_clean")
    assert rows(clean, "sc") and rows(clean, "quar")

    store = TableStore(spark, str(tmp_path / "store"))
    crashed = _crash_once(monkeypatch, store, "upsert_epoch", "quar", 0)
    with pytest.raises(Exception, match="injected crash"):
        drain(store, tmp_path / "ck")
    assert crashed == [("quar", 0)]
    assert not store.exists("quar")
    scored_log = store.history("sc")

    drain(store, tmp_path / "ck")
    assert store.history("sc") == scored_log
    assert rows(store, "sc") == rows(clean, "sc")
    assert rows(store, "quar") == rows(clean, "quar")
