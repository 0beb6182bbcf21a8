"""Streaming depth (ROADMAP 4): exactly-once foreachBatch upsert into
the TableStore, and dynamic-gap sessionization with an independent
first-principles twin cross-checking the native session_window."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.registry import table as load_table
from databridge_etl_tools_spark.sources.table_store import TableStore
from databridge_etl_tools_spark.streaming import events as SE

SF = "/root/testdata/sf0.001"
GAPS = {"purchase": "90 minutes", "error": "5 minutes"}


def test_dynamic_gap_session_window_matches_first_principles(spark):
    ev = load_table(spark, SF, "events")
    native = SE.sessionize_dynamic(ev, SE.dynamic_gap("30 minutes", GAPS))
    twin = SE.sessionize_batch_dynamic(ev, SE.dynamic_gap_us("30 minutes", GAPS))
    n = {(r.user_id, str(r.session_start)): r.n_events for r in native.collect()}
    t = {(r.user_id, str(r.session_start)): r.n_events for r in twin.collect()}
    assert n == t
    # the policy actually bites: a uniform 30-minute gap sessionizes
    # differently than the per-type policy
    uniform = SE.sessionize_dynamic(ev, SE.dynamic_gap("30 minutes", {}))
    u = {(r.user_id, str(r.session_start)): r.n_events for r in uniform.collect()}
    assert u != n


def test_dynamic_gap_stream_matches_batch(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    staging = str(tmp_path / "dyn_staging")
    # stage in event-time order (3 files = 3 micro-batches): batches
    # arriving wildly out of order would be dropped by the watermark —
    # the correct streaming behavior, but not what this parity asserts
    day = F.dayofmonth("ts")
    ev.where(day <= 10).coalesce(1).write.parquet(staging)
    ev.where((day > 10) & (day <= 20)).coalesce(1).write.mode("append").parquet(staging)
    ev.where(day > 20).coalesce(1).write.mode("append").parquet(staging)

    batch = SE.sessionize_dynamic(ev, SE.dynamic_gap("30 minutes", GAPS))
    b = {(r.user_id, str(r.session_start)): r.n_events for r in batch.collect()}

    stream = SE.read_event_stream(spark, staging)
    q = (
        SE.sessionize_dynamic(stream, SE.dynamic_gap("30 minutes", GAPS))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("dyn_sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    s = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM dyn_sess_out").collect()
    }
    assert b == s


def test_dynamic_gap_stream_late_replay_contract(spark, tmp_path):
    """Pins the REAL late-data contract for dynamic session windows
    (append mode), discovered empirically — both the admission filter
    and eviction run against the START-of-batch watermark (computed
    from the PREVIOUS batch's data, the same one-batch lag
    test_watermark_late_data_contract pins for tumbling windows):

    - a replayed row whose dynamic window has fallen fully behind
      that watermark (``ts + gap(row) <= wm``) is DROPPED;
    - a replayed row whose window still pokes past it is ADMITTED and
      MERGES with the still-live session — a genuine at-least-once
      double count. Exactly-once therefore needs an idempotent sink
      (``stream_upsert_into_store``'s epoch commit), not the
      watermark.

    Batch layout: b0 = day-1 events, b1 = day-30 events (watermark
    after b1 = max(b0) - 2 h, still inside day 1), b2 = day-1
    replayed. Expected per-session counts are computed by an
    independent driver-side sessionizer over the 33 collected rows.
    """
    import datetime as dt
    import glob
    import os
    import time

    ev = load_table(spark, SF, "events").cache()
    day = F.dayofmonth("ts")
    b0 = ev.where(day == 1)
    b1 = ev.where(day == 30)
    staging = str(tmp_path / "dyn_late_staging")
    now = time.time()
    for i, b in enumerate((b0, b1, b0)):
        b.coalesce(1).write.mode("append").parquet(staging)
        for f in glob.glob(os.path.join(staging, "*.parquet")):
            if os.path.getmtime(f) > now - 1:
                os.utime(f, (now - 60 + i, now - 60 + i))

    q = (
        SE.sessionize_dynamic(
            SE.read_event_stream(spark, staging), SE.dynamic_gap("30 minutes", GAPS)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dyn_late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # independent driver-side twin over the tiny day-1 slice
    gap_of = {"purchase": 90, "error": 5}
    rows0 = sorted(
        b0.select("user_id", "ts", "event_type", "event_id").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    def gap(r):
        return dt.timedelta(minutes=gap_of.get(r.event_type, 30))

    sessions = []  # [user, start, close, n]
    for r in rows0:
        cur = sessions[-1] if sessions else None
        if cur and cur[0] == r.user_id and r.ts <= cur[2]:  # inclusive touch
            cur[2] = max(cur[2], r.ts + gap(r)); cur[3] += 1
        else:
            sessions.append([r.user_id, r.ts, r.ts + gap(r), 1])

    wm1 = max(r.ts for r in rows0) - dt.timedelta(hours=2)
    admitted = [r for r in rows0 if r.ts + gap(r) > wm1]

    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped >= len(rows0) - len(admitted) > 0
    assert len(admitted) > 0, "scenario must exercise the still-live merge"

    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM dyn_late_out").collect()
    }
    for user, start, close, n in sessions:
        extra = sum(
            1 for r in admitted if r.user_id == user and start <= r.ts <= close
        )
        key = (user, str(start))
        assert got.get(key) == n + extra, (
            f"session {key}: emitted {got.get(key)}, want {n} on-time "
            f"+ {extra} admitted replayed duplicates"
        )


def test_stream_upsert_into_store_exactly_once(spark, tmp_path):
    ev = load_table(spark, SF, "events").limit(300).cache()
    staging = str(tmp_path / "upsert_staging")
    ckpt = str(tmp_path / "upsert_ckpt")
    # 3 files → 3 micro-batches; event_id%100 makes later batches
    # OVERWRITE earlier rows (a real upsert, not a pure append)
    staged = ev.withColumn("event_id", F.col("event_id") % 100)
    staged.where(F.col("user_id") % 3 == 0).coalesce(1).write.parquet(staging)
    staged.where(F.col("user_id") % 3 == 1).coalesce(1).write.mode("append").parquet(staging)
    staged.where(F.col("user_id") % 3 == 2).coalesce(1).write.mode("append").parquet(staging)

    store = TableStore(spark, str(tmp_path / "store"))
    SE.stream_upsert_into_store(
        SE.read_event_stream(spark, staging),
        store,
        "events_live",
        keys=["event_id"],
        checkpoint_dir=ckpt,
        staging_order=[F.col("ts").desc(), F.col("user_id")],
    )

    got = store.read("events_live")
    # exactly one row per key, and every staged key arrived
    assert got.count() == got.select("event_id").distinct().count()
    assert (
        got.select("event_id").distinct().count()
        == staged.select("event_id").distinct().count()
    )
    epochs_done = store.properties("events_live")["last_epoch"]
    assert epochs_done >= 2  # three micro-batches committed

    # replayed epoch (crash between store commit and checkpoint write)
    # is skipped before any write: same version, same rows
    before = store._read_manifest("events_live")["current"]
    assert store.commit_epoch("events_live", got.limit(0), epochs_done) is False
    assert store._read_manifest("events_live")["current"] == before

    # restarting the drained stream with the same checkpoint is a no-op
    SE.stream_upsert_into_store(
        SE.read_event_stream(spark, staging),
        store, "events_live", keys=["event_id"], checkpoint_dir=ckpt,
    )
    assert store.read("events_live").count() == got.count()
    assert store.properties("events_live")["last_epoch"] == epochs_done


def test_stream_rollup_cascade_matches_batch(spark, tmp_path):
    """3 micro-batches through the streaming rollup sink produce the
    same hourly+daily tables as one batch refresh over all events;
    a replayed epoch leaves both tables unchanged."""
    from databridge_etl_tools_spark.plans import rollups as R

    ev = load_table(spark, SF, "events").limit(600).cache()
    staging = str(tmp_path / "roll_staging")
    day = F.dayofmonth("ts")
    ev.where(day <= 10).coalesce(1).write.parquet(staging)
    ev.where((day > 10) & (day <= 20)).coalesce(1).write.mode("append").parquet(staging)
    ev.where(day > 20).coalesce(1).write.mode("append").parquet(staging)

    stream_store = TableStore(spark, str(tmp_path / "roll_stream"))
    SE.stream_rollup_into_store(
        SE.read_event_stream(spark, staging), stream_store,
        str(tmp_path / "roll_ckpt"),
    )

    batch_store = TableStore(spark, str(tmp_path / "roll_batch"))
    R.refresh_rollups(spark, batch_store, ev)

    for tbl in (R.HOURLY, R.DAILY):
        got = {tuple(r) for r in stream_store.read(tbl).collect()}
        want = {tuple(r) for r in batch_store.read(tbl).collect()}
        assert got == want, f"{tbl} diverged from batch cascade"

    # replayed epoch: re-fold an already-committed micro-batch id
    last_epoch = stream_store.properties(R.HOURLY)["last_epoch"]
    before_h = {tuple(r) for r in stream_store.read(R.HOURLY).collect()}
    before_d = {tuple(r) for r in stream_store.read(R.DAILY).collect()}
    replay = spark.read.parquet(staging).limit(200)
    R.refresh_rollups(spark, stream_store, replay, epoch_id=last_epoch)
    assert {tuple(r) for r in stream_store.read(R.HOURLY).collect()} == before_h
    assert {tuple(r) for r in stream_store.read(R.DAILY).collect()} == before_d


def test_watermark_late_data_contract(spark, tmp_path):
    """Pins Spark's REAL late-data contract (the guarantee is
    one-directional): late rows for windows already EVICTED from
    state are dropped — append mode never emits a window twice and
    never double-counts — while eviction itself lags one batch (the
    watermark computed from batch N's data takes effect in batch
    N+1). Batch layout: b0 = day-1 + half of day-30 (watermark still
    1970 while processing), b1 = rest of day-30 (watermark now
    end-of-January: day-1 windows evict + emit), b2 = the SAME day-1
    events replayed late (state gone → dropped, visibly)."""
    import glob
    import os
    import time

    ev = load_table(spark, SF, "events").cache()
    day = F.dayofmonth("ts")
    b0 = ev.where((day == 1) | ((day == 30) & (F.col("user_id") % 2 == 0)))
    b1 = ev.where((day == 30) & (F.col("user_id") % 2 == 1))
    b2 = ev.where(day == 1)
    staging = str(tmp_path / "wm_staging")
    now = time.time()
    for i, b in enumerate((b0, b1, b2)):
        # file source orders by mtime; force strict arrival order
        b.coalesce(1).write.mode("append").parquet(staging)
        for f in glob.glob(os.path.join(staging, "*.parquet")):
            if os.path.getmtime(f) > now - 1:
                os.utime(f, (now - 60 + i, now - 60 + i))

    q = (
        SE.windowed_counts(
            SE.read_event_stream(spark, staging),
            window="1 hour", watermark="2 hours",
        )
        .writeStream.outputMode("append")
        .format("memory").queryName("wm_out")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()

    # every replayed (window, type) group was dropped at the state
    # operator (it sits above the map-side partial aggregate, so the
    # drop metric counts GROUPS, not raw rows)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    expected_groups = (
        b2.select(
            F.window(F.col("ts").cast("timestamp"), "1 hour"), "event_type"
        )
        .distinct()
        .count()
    )
    assert dropped == expected_groups

    rows = spark.sql("SELECT * FROM wm_out").collect()
    # append-mode invariant: every (window, type) emitted exactly once
    keys = [(str(r.window_start), r.event_type) for r in rows]
    assert len(keys) == len(set(keys))
    # and day-1 counts reflect the original arrival only — the late
    # replay did not double-count into already-finalized windows
    day1_total = sum(r.n for r in rows if str(r.window_start).startswith("2024-01-01"))
    assert day1_total == b2.count()


def test_dedupe_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): a
    duplicate event_id arriving in a LATER micro-batch within the
    watermark is dropped; the drained result equals batch
    dropDuplicates over the same files. State is watermark-bounded —
    the deployable contrast to unbounded dropDuplicates."""
    import glob
    import os
    import time

    ev = load_table(spark, SF, "events").cache()
    day = F.dayofmonth("ts")
    b0 = ev.where(day <= 15)
    b1 = ev.where((day > 10) & (day <= 25))  # overlap: days 11-15 replayed
    staging = str(tmp_path / "dedup_staging")
    now = time.time()
    for i, b in enumerate((b0, b1)):
        b.coalesce(1).write.mode("append").parquet(staging)
        for f in glob.glob(os.path.join(staging, "*.parquet")):
            if os.path.getmtime(f) > now - 1:
                os.utime(f, (now - 60 + i, now - 60 + i))

    q = (
        SE.dedupe_stream(SE.read_event_stream(spark, staging), ["event_id"], "40 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_stream_out").collect()]
    assert len(got) == len(set(got)), "a duplicate survived"
    want = {
        r.event_id
        for r in b0.unionByName(b1).dropDuplicates(["event_id"]).collect()
    }
    assert set(got) == want


def test_upsert_epoch_appends_delta_and_falls_back_on_change(spark, tmp_path):
    """TableStore.upsert_epoch O(delta) contract: all-new-key batches
    append segments (cost = the batch, not the table); identical
    re-sends add nothing; a changed row or intra-batch duplicate key
    takes the keyed-rewrite fallback with identical final state."""
    store = TableStore(spark, str(tmp_path / "store"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert store.upsert_epoch("t", b1, ["k"], 0, scope="s1") is True

    # new keys only: delta segment appended
    b2 = spark.createDataFrame([(3, "c")], "k long, v string")
    assert store.upsert_epoch("t", b2, ["k"], 1, scope="s1") is True
    assert len(store._segments("t")) == 2
    assert store.read("t").count() == 3

    # replayed (scope, epoch): rejected before any write
    assert store.upsert_epoch("t", b2, ["k"], 1, scope="s1") is False
    # same epoch id under a DIFFERENT scope: processed (identical
    # re-send -> no delta rows, but the watermark advances)
    assert store.upsert_epoch("t", b2, ["k"], 1, scope="s2") is True
    assert store.read("t").count() == 3

    # changed value for an existing key: keyed-rewrite fallback
    b3 = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    assert store.upsert_epoch("t", b3, ["k"], 2, scope="s2") is True
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    # intra-batch duplicate key: routed to the rewrite path, where
    # staging_order defines deterministic first-wins (the house
    # upsert contract — without an order, duplicates pass through
    # exactly as merge.upsert documents)
    b4 = spark.createDataFrame([(5, "e"), (5, "E")], "k long, v string")
    store.upsert_epoch("t", b4, ["k"], 3, scope="s2", staging_order=["v"])
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got[5] == "E" and len(got) == 5
    dup = store.read("t").groupBy("k").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_checkpoint_identity_reads_query_id_with_path_fallback(tmp_path):
    """The epoch-scope source: Spark's persisted query id when the
    checkpoint metadata exists (stable across restarts, regenerated
    for fresh checkpoints), the absolute path otherwise."""
    import json
    import os

    ck = tmp_path / "ck"
    ck.mkdir()
    # no metadata yet -> path fallback
    assert SE.checkpoint_identity(str(ck)) == os.path.abspath(str(ck))
    (ck / "metadata").write_text(json.dumps({"id": "abc-123"}))
    assert SE.checkpoint_identity(str(ck)) == "abc-123"
    # unreadable/garbage metadata -> path fallback, never an exception
    (ck / "metadata").write_text("{not json")
    assert SE.checkpoint_identity(str(ck)) == os.path.abspath(str(ck))


def test_upsert_epoch_property_sweep_matches_dict_replay(spark, tmp_path):
    """Deterministic operation-sequence sweep: upsert_epoch over a
    scripted mix of new keys, identical re-sends, changed rows,
    scope changes, and replays must equal a python dict replay of
    the same sequence (last committed write per key wins), with
    replays — same (scope, epoch) — contributing nothing."""
    store = TableStore(spark, str(tmp_path / "store"))
    # (scope, epoch, rows); replays repeat a (scope, epoch) pair
    script = [
        ("s1", 0, [(1, "a"), (2, "b")]),
        ("s1", 1, [(3, "c")]),                     # delta append
        ("s1", 1, [(3, "XXX")]),                   # replay: ignored
        ("s1", 2, [(1, "a"), (4, "d")]),           # identical + new
        ("s2", 0, [(5, "e")]),                     # fresh scope, epoch reset
        ("s2", 1, [(2, "B2"), (6, "f")]),          # changed row -> rewrite
        ("s2", 1, [(7, "never")]),                 # replay under s2
        ("s2", 2, [(2, "B2")]),                    # identical re-send
    ]
    oracle: dict[int, str] = {}
    applied: set[tuple[str, int]] = set()
    for scope, epoch, rows in script:
        df = spark.createDataFrame(rows, "k long, v string")
        committed = store.upsert_epoch("t", df, ["k"], epoch, scope=scope)
        if (scope, epoch) in applied:
            assert committed is False, (scope, epoch)
            continue
        assert committed is True, (scope, epoch)
        applied.add((scope, epoch))
        for k, v in rows:
            oracle[k] = v
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == oracle
    dup = store.read("t").groupBy("k").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_stream_upsert_sink_first_batch_duplicates(spark, tmp_path):
    """The sink's first micro-batch creates the table through
    ``upsert_epoch``: an identical duplicate row collapses, and
    conflicting rows for one key raise with nothing committed."""

    def drain(rows, name):
        staging = str(tmp_path / f"{name}_staging")
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(staging)
        store = TableStore(spark, str(tmp_path / f"{name}_store"))
        SE.stream_upsert_into_store(
            spark.readStream.schema("k long, v string").parquet(staging),
            store, "t", keys=["k"], checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        )
        return store

    store = drain([(1, "a"), (1, "a"), (2, "b")], "identical")
    assert sorted(map(tuple, store.read("t").collect())) == [(1, "a"), (2, "b")]

    with pytest.raises(Exception, match="conflicting intra-batch"):
        drain([(1, "a"), (1, "b"), (2, "b")], "conflicting")
    assert not TableStore(spark, str(tmp_path / "conflicting_store")).exists("t")
