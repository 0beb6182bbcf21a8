"""Structured Streaming over the events table (SURVEY §2.8).

The reference has no streaming operators — its incrementality is
upsert-over-snapshots. This module adds the Spark-native streaming
shapes a DataBridge-style pipeline grows into: micro-batch ingestion
of a staging directory (``availableNow`` drains what exists, then
stops — the S3-staging-bucket pattern), watermarked event-time
windows for late data, and batch/stream-parity sessionization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """File-source stream over a staging directory (one file per
    micro-batch by default; at scale: maxFilesPerTrigger tuning)."""
    return (
        spark.readStream.schema(schema or EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def windowed_counts(stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type: late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", watermark)
        .groupBy(F.window("ts_ltz", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drain everything currently staged (Trigger.AvailableNow), then
    stop — the batch-ish execution mode for bucket ingestion. Returns
    the materialized result from the memory sink."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def tag_sessions(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Tag every event with its gap-session ordinal (``session_seq``)
    without aggregating — the per-event form consumed by funnel/
    attribution analyses. lag + running-sum of boundary flags, one
    shuffle on user_id; microsecond arithmetic (exact in every
    engine — MINUTE units count either boundary crossings or full
    intervals depending on engine)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    prev = F.lag("ts").over(w)
    gap_us = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
    is_new = F.when(prev.isNull() | (gap_us >= gap_minutes * 60_000_000), 1).otherwise(0)
    return df.withColumn("session_seq", F.sum(is_new).over(w))


def sessionize_batch(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a session breaks when the gap to the
    previous event of the same user exceeds ``gap_minutes``."""
    with_sess = tag_sessions(df, gap_minutes)
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    user, a running (events, value) total carried across micro-batches
    in state. Emits one row per user per batch that saw that user.

    The shape to note for scale: state is keyed by user_id (hash-
    distributed), each batch touches only the keys present in it, and
    the pandas function sees Arrow batches — the Spark-native form of
    'custom stateful operator' (SURVEY §2.8 is empty in the
    reference; this is the extension point)."""
    import pandas as pd

    def update(key, pdfs, state):
        user_id = key[0]
        n = 0
        total = 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        if state.exists:
            (prev_n, prev_total) = state.get
        else:
            prev_n, prev_total = 0, 0.0
        state.update((prev_n + n, prev_total + total))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "batch_events": [n],
                "cum_events": [prev_n + n],
                "cum_value": [prev_total + total],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, batch_events long, cum_events long, cum_value double",
        stateStructType="n long, total double",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def dedupe_stream(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with
    state bounded by the watermark (``dropDuplicatesWithinWatermark``
    — the streaming face of the batch dedup family in
    ``operators.dedup``). The contract: duplicates arriving within
    ``watermark`` of the original's event time are guaranteed
    dropped; a duplicate arriving later than that MAY pass (its
    key's state has been reclaimed) — the bounded-state trade every
    infinite-stream dedup must make. Plain ``dropDuplicates`` on a
    stream would keep every key forever (state grows without bound at
    100 TB/day); the watermark variant is the deployable shape."""
    src = stream.withColumn("ts_ltz", F.col("ts").cast("timestamp")).withWatermark(
        "ts_ltz", watermark
    )
    return src.dropDuplicatesWithinWatermark(keys)


def sessionize_stream(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via the native session_window —
    state-backed, watermark-bounded (the stream twin of
    ``sessionize_batch``)."""
    return (
        stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "2 hours")
        .groupBy(F.session_window("ts_ltz", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def _duration_us(s: str) -> int:
    n, unit = s.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit.rstrip("s")]
    return int(n) * mult * 1_000_000


def dynamic_gap(default: str = "30 minutes", per_type: dict[str, str] | None = None):
    """Per-event session-gap expression: an event's type decides how
    long its session stays open (e.g. a purchase holds the session
    for an hour, a page view for 30 minutes). Feed to
    ``session_window``'s dynamic-gap form, batch or streaming."""
    expr = F.lit(default)
    for etype, gap in (per_type or {}).items():
        expr = F.when(F.col("event_type") == etype, F.lit(gap)).otherwise(expr)
    return expr


def dynamic_gap_us(default: str = "30 minutes", per_type: dict[str, str] | None = None):
    """The same per-event gap policy as microseconds (for the
    independent lag-based twin below)."""
    expr = F.lit(_duration_us(default))
    for etype, gap in (per_type or {}).items():
        expr = F.when(
            F.col("event_type") == etype, F.lit(_duration_us(gap))
        ).otherwise(expr)
    return expr


def sessionize_dynamic(df: DataFrame, gap_expr) -> DataFrame:
    """Dynamic-gap sessionization with the native ``session_window``:
    the gap duration is a per-ROW expression, so session extension
    policy can depend on the event itself. Works identically on a
    batch frame and a watermarked stream (state-backed merge of
    overlapping per-event windows)."""
    src = df.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts_ltz", "2 hours")
    return (
        src.groupBy(F.session_window("ts_ltz", gap_expr).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def sessionize_batch_dynamic(df: DataFrame, gap_us_expr) -> DataFrame:
    """Independent batch twin of ``sessionize_dynamic`` built from
    first principles (lag + running sum, no session_window): a
    session's close time is the running MAX of ``event_ts + its own
    gap`` seen so far, and event i opens a new session only when its
    timestamp EXCEEDS that close time — native ``session_window``
    merges an event landing exactly on the close boundary into the
    session (touching windows merge, inclusive), so the twin must
    too. Exists to cross-check
    Spark's native operator in tests the way DuckDB cross-checks the
    relational queries. Gap arrives as microseconds
    (``dynamic_gap_us``)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    prev_rows = w.rowsBetween(Window.unboundedPreceding, -1)
    src = df.withColumn(
        "_end_us",
        F.unix_micros(F.col("ts").cast("timestamp")) + gap_us_expr,
    )
    session_close = F.max("_end_us").over(prev_rows)
    now_us = F.unix_micros(F.col("ts").cast("timestamp"))
    is_new = F.when(session_close.isNull() | (now_us > session_close), 1).otherwise(0)
    sess = src.withColumn("_session_seq", F.sum(is_new).over(w))
    return (
        sess.groupBy("user_id", "_session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
        .select(
            "user_id",
            F.col("session_start").cast("timestamp").alias("session_start"),
            "n_events",
        )
    )


def checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable identity of a streaming checkpoint: the query id Spark
    persists in ``<checkpoint>/metadata`` at first start — constant
    across restarts of the SAME checkpoint (where epoch replays can
    genuinely occur), regenerated whenever the checkpoint is created
    fresh, even at the same path. This is what store epoch watermarks
    must be scoped by: epoch ids are checkpoint-relative (a fresh
    checkpoint renumbers from 0), so an unscoped watermark would
    silently skip new micro-batches after a checkpoint reset — the
    ``txnAppId`` half of Delta's idempotent-sink recipe.

    A NON-LOCAL checkpoint dir (``s3a://``, ``hdfs://``, …) RAISES:
    its metadata can't be read through the local filesystem, and the
    path fallback would be a silent downgrade — a checkpoint recreated
    fresh at the same remote path would reuse the old scope and
    reintroduce exactly the skip-new-batches data loss scoping exists
    to prevent. Callers on a real cluster must derive the identity
    through their checkpoint store's API and pass it explicitly. A
    LOCAL dir whose metadata is missing/garbled falls back to the
    absolute path with a warning (still never silent)."""
    import json as _json
    import re as _re
    import warnings as _warnings

    scheme = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", checkpoint_dir)
    if scheme and scheme.group(1) != "file":
        raise ValueError(
            f"checkpoint_identity: non-local checkpoint dir "
            f"{checkpoint_dir!r} — read the query id through the "
            "checkpoint store's API; the path-fallback scope would "
            "silently survive a checkpoint reset (data loss)"
        )
    local_dir = checkpoint_dir[len("file://"):] if scheme else checkpoint_dir
    try:
        with open(os.path.join(local_dir, "metadata")) as f:
            qid = _json.load(f).get("id")
        if qid:
            return str(qid)
    except (OSError, ValueError):
        pass
    _warnings.warn(
        f"checkpoint_identity: {checkpoint_dir!r} has no readable "
        "metadata; falling back to the path — a checkpoint recreated "
        "fresh at this path will REUSE the old epoch scope",
        RuntimeWarning,
        stacklevel=2,
    )
    return os.path.abspath(local_dir)


def drain_fenced(stream: DataFrame, store, tables: list[str], checkpoint_dir: str, step) -> None:
    """The exactly-once micro-batch drain every TableStore streaming
    sink runs through: ``availableNow`` over ``stream`` (drain what is
    staged, then stop), checkpointed at ``checkpoint_dir``, each
    micro-batch fenced by the epoch watermarks of ``tables``.

    Per batch, the fence scope is ``checkpoint_identity`` (Spark writes
    the checkpoint metadata at start, so it is derived inside the
    batch) and ``pending`` is the listed tables that have not yet
    committed ``(scope, epoch_id)``, in listed order. A batch with
    nothing pending is a replay and is skipped before any work;
    otherwise ``step(batch, epoch_id, scope, pending)`` runs and must
    commit each pending table through an epoch commit carrying that
    scope and epoch id. A crash between two commits of one batch makes
    Spark replay the epoch with only the lagging tables pending — the
    one multi-table rule, Delta's ``txnAppId``/``txnVersion`` recipe
    on the versioned store."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        scope = checkpoint_identity(checkpoint_dir)
        pending = [t for t in tables if not store.epoch_seen(t, epoch_id, scope)]
        if pending:
            step(batch_df, epoch_id, scope, pending)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_upsert_into_store(
    stream: DataFrame,
    store,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    staging_order: list | None = None,
) -> None:
    """Checkpointed exactly-once upsert sink (ROADMAP 4): every
    micro-batch merges into a TableStore table through
    ``drain_fenced``, committing data + epoch watermark in one atomic
    manifest flip. Commits through ``TableStore.upsert_epoch``, which
    creates the table on the first epoch: all-new-key batches append
    O(delta) segments; re-sent/changed keys take the keyed-rewrite
    fallback."""

    def step(batch: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        store.upsert_epoch(
            table, batch, keys, epoch_id, scope=scope, staging_order=staging_order
        )

    drain_fenced(stream, store, [table], checkpoint_dir, step)


def stream_rollup_into_store(stream: DataFrame, store, checkpoint_dir: str) -> None:
    """Streaming twin of the incremental rollup cascade
    (``plans/rollups.refresh_rollups``): each micro-batch folds into
    the hourly table and re-derives the touched daily buckets, both
    epoch-committed — the TimescaleDB continuous-aggregate shape as a
    ``drain_fenced`` sink. Both tables are fenced: a replay whose
    hourly fold already committed still re-derives the daily level."""
    from ..plans.rollups import DAILY, HOURLY, refresh_rollups

    def step(batch: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        refresh_rollups(batch.sparkSession, store, batch, epoch_id=epoch_id, epoch_scope=scope)

    drain_fenced(stream, store, [HOURLY, DAILY], checkpoint_dir, step)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: "list[str] | str",
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: incoming events pick up
    dimension attributes (user profile, product catalog, config
    table) with NO state and NO watermark — Spark re-resolves the
    static side per micro-batch, so a slowly-changing dimension is
    picked up on its next refresh without restarting the query.

    The broadcast hint keeps the join map-side (stateless per batch;
    the stream is never shuffled) — correct whenever the dimension
    fits the broadcast budget, which is the definition of a
    dimension. Drop the hint for a genuinely huge static side and the
    batch join planner takes over per micro-batch. Only ``inner`` and
    ``left`` (stream-preserving) joins are allowed: a right/full join
    against a stream would need to emit dimension rows that never
    matched, which streaming cannot do without state."""
    if how not in ("inner", "left"):
        raise ValueError(f"enrich_stream: unsupported how={how!r}")
    d = F.broadcast(dim) if hint_broadcast else dim
    return stream.join(d, keys, how)


def stream_scd2_into_store(
    stream: DataFrame,
    store,
    table: str,
    keys: list[str],
    track_cols: list[str],
    checkpoint_dir: str,
    date_col: str = "snapshot_date",
) -> None:
    """Incremental SCD2: a stream of dimension SNAPSHOTS (one snapshot
    per micro-batch — stage one file per snapshot and set
    ``maxFilesPerTrigger=1``) evolves the stored type-2 history
    exactly-once. Each batch reads the current history, applies
    ``operators.merge.scd2_apply`` at the snapshot's date, and commits
    history + epoch in one atomic manifest flip.

    The batch date comes from ``date_col``, which must be constant
    within a batch (asserted — a mixed batch means two snapshots were
    staged into one trigger, which would break version ordering).

    Two independent replay fences, because SCD2 re-application is NOT
    idempotent (re-applying an old snapshot onto the evolved history
    closes/reopens rows with stale dates): ``drain_fenced`` fences
    same-checkpoint replays, and a CONTENT fence — the max applied
    snapshot date, committed in the same atomic flip as the history
    (``scd2_max_date``) — fences a checkpoint RESET, where a fresh
    checkpoint re-lists every staged snapshot under a new scope and
    the epoch fence alone would re-run history from the start. Any
    snapshot dated <= the stored max is skipped (its watermark still
    advances so the replay never re-probes); snapshots must therefore
    arrive in date order, which the one-snapshot-per-trigger staging
    contract already implies."""
    from ..operators.merge import scd2_apply

    def step(batch: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        dates = batch.agg(F.collect_set(date_col)).first()[0]
        if not dates:
            return
        if len(dates) != 1:
            raise ValueError(
                f"stream_scd2_into_store: batch {epoch_id} carries "
                f"{len(dates)} snapshot dates {sorted(map(str, dates))}; stage one "
                "snapshot per trigger (maxFilesPerTrigger=1)"
            )
        batch_date = dates[0].isoformat()
        snap = batch.drop(date_col)
        if store.exists(table):
            applied_max = store.properties(table).get("scd2_max_date")
            if applied_max is not None and batch_date <= applied_max:
                # content fence: an already-applied snapshot re-listed
                # by a RESET checkpoint (new scope, epochs from 0) —
                # advance this scope's watermark without touching the
                # history
                store.mark_epoch(table, epoch_id, scope)
                return
        else:
            hist_schema = T.StructType(
                [snap.schema[c] for c in keys + list(track_cols)]
                + [
                    T.StructField("valid_from", T.DateType()),
                    T.StructField("valid_to", T.DateType()),
                ]
            )
            store.create_table(table, hist_schema)
        hist = store.read(table)
        evolved = scd2_apply(hist, snap, keys, track_cols, batch_date)
        store.commit_epoch(
            table,
            evolved,
            epoch_id,
            scope=scope,
            extra_props={"scd2_max_date": batch_date},
        )

    drain_fenced(stream, store, [table], checkpoint_dir, step)


def stream_transitions(stream: DataFrame) -> DataFrame:
    """Streaming first-order transitions: per user, every
    (prev_type, next_type) adjacent pair in event-time order,
    INCLUDING the pair that bridges two micro-batches — the state is
    each user's last event type, the minimal sufficient statistic.
    Downstream ``groupBy(prev_type, next_type).count()`` maintains
    the running Markov transition matrix
    (``queries.analytics.events_markov_transitions`` is the batch
    twin; availableNow parity pinned in
    tests/test_stream_transitions.py).

    Scale: state is ONE string per user (hash-distributed, touched
    only for keys present in the batch); each batch sorts only its
    own per-user rows. Ordering caveat, stated honestly: cross-batch
    pairs are correct when per-user event time is monotone across
    batch arrival (replay / log-ordered ingestion); out-of-order
    sources need watermark buffering upstream (compose with
    ``sessionize_stream``'s watermark) — the same contract every
    last-value stateful operator carries."""
    import pandas as pd

    def update(key, pdfs, state):
        user_id = key[0]
        parts = [pdf[["ts", "event_id", "event_type"]] for pdf in pdfs]
        df = pd.concat(parts).sort_values(["ts", "event_id"])
        types = list(df["event_type"])
        if state.exists:
            types = [state.get[0]] + types
        state.update((types[-1],))
        if len(types) > 1:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * (len(types) - 1),
                    "prev_type": types[:-1],
                    "next_type": types[1:],
                }
            )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, prev_type string, next_type string",
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
