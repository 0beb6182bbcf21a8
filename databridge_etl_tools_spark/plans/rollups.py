"""Incremental rollup cascade (continuous-aggregate shape).

The reference's incrementality is snapshot upsert (SURVEY §2.8); the
Spark-native growth path for event data is a rollup cascade: raw
events → hourly aggregate table → daily aggregate table, each level
refreshed incrementally by recomputing only the buckets present in
the new batch and upserting them — the batch formulation of a
TimescaleDB-style continuous aggregate / streaming windowed sink.

Scale: a refresh touches O(batch buckets), not the full history;
the upsert is one shuffle on the bucket key; levels compose (daily
reads hourly, not raw). Aggregates carried are re-aggregable
(count/sum — the algebraic requirement, same as operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetimes import truncate_ntz
from ..operators import merge as M
from ..sources.table_store import TableStore

HOURLY = "events_rollup_hourly"
DAILY = "events_rollup_daily"
_KEYS = ["bucket", "event_type"]


def _aggregate(batch: DataFrame, unit: str) -> DataFrame:
    return (
        batch.groupBy(
            truncate_ntz("ts", unit).alias("bucket"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,2)")).alias("total_value"),
        )
    )


def _reaggregate_daily(hourly: DataFrame) -> DataFrame:
    return (
        hourly.groupBy(
            truncate_ntz("bucket", "DAY").alias("bucket"), F.col("event_type")
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_value").alias("total_value"),
        )
    )


def refresh_rollups(
    spark: SparkSession,
    store: TableStore,
    batch: DataFrame,
    epoch_id: int | None = None,
    epoch_scope: str | None = None,
) -> dict:
    """Fold a new batch of events into the hourly + daily rollup
    tables. Only buckets touched by the batch are recomputed: the
    batch's per-bucket aggregate is COMBINED with the bucket's prior
    totals (sum-of-sums — exactly-once per event as long as each
    event row is fed in exactly one batch), then upserted; untouched
    buckets never move.

    ``epoch_id`` (a streaming micro-batch) makes the cascade
    exactly-once under epoch replay: both levels commit via
    ``commit_epoch`` (epoch + data in one atomic flip), so a replayed
    fold is detected and skipped instead of double-counted. The daily
    level is RE-DERIVED from hourly state for the touched days, so a
    replay whose hourly fold already committed re-derives identical
    daily values — which is what makes a crash between the two
    commits safe without a multi-table transaction."""

    def commit(table: str, df: DataFrame) -> None:
        if epoch_id is None:
            store.overwrite(table, df)
        else:
            store.commit_epoch(table, df, epoch_id, scope=epoch_scope)

    hourly_delta = _aggregate(batch, "HOUR")

    if store.exists(HOURLY):
        prev = store.read(HOURLY)
        touched = hourly_delta.select(*_KEYS).distinct()
        # combine prior totals for touched buckets with the delta
        prior_touched = prev.join(touched, _KEYS, "left_semi")
        combined = (
            prior_touched.unionByName(hourly_delta)
            .groupBy(*_KEYS)
            .agg(F.sum("n").alias("n"), F.sum("total_value").alias("total_value"))
        )
        new_hourly = M.upsert(prev, combined, _KEYS)
    else:
        new_hourly = hourly_delta
    commit(HOURLY, new_hourly)

    # daily level derives from hourly (never from raw events)
    hourly_now = store.read(HOURLY)
    day_touched = hourly_delta.select(
        truncate_ntz("bucket", "DAY").alias("bucket")
    ).distinct()
    daily_delta = _reaggregate_daily(
        hourly_now.join(
            day_touched.withColumnRenamed("bucket", "_day"),
            truncate_ntz("bucket", "DAY") == F.col("_day"),
            "left_semi",
        )
    )
    if store.exists(DAILY):
        daily_delta = M.upsert(store.read(DAILY), daily_delta, _KEYS)
    commit(DAILY, daily_delta)
    return {
        "hourly_rows": store.row_count(HOURLY),
        "daily_rows": store.row_count(DAILY),
    }
