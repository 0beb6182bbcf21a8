"""Job budget of a fenced rollup refresh: the returned row counts come
from parquet footers (``TableStore.row_count``), so the refresh runs
only the jobs of its two epoch commits."""

from __future__ import annotations

from pyspark.sql import functions as F
from test_schema_store import _jobs_started

from databridge_etl_tools_spark.plans.rollups import DAILY, HOURLY, refresh_rollups
from databridge_etl_tools_spark.registry import table as load_table
from databridge_etl_tools_spark.sources.table_store import TableStore


def test_fenced_refresh_counts_rows_without_jobs(spark, tmp_path):
    """300 sf0.001 events in two fenced batches: the first refresh
    (both tables created) runs 4 jobs and the second (both tables
    upserted) 12; counting the tables with ``count()`` ran 4 more in
    each."""
    store = TableStore(spark, str(tmp_path / "wh"))
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(300).cache()
    ev.count()
    batches = [ev.where(F.col("event_id") % 2 == k) for k in (0, 1)]
    for epoch, (batch, budget) in enumerate(zip(batches, (4, 12))):
        with _jobs_started(spark) as jobs:
            stats = refresh_rollups(spark, store, batch, epoch_id=epoch, epoch_scope="s")
        assert len(jobs) <= budget, (epoch, len(jobs))
        assert stats == {
            "hourly_rows": store.read(HOURLY).count(),
            "daily_rows": store.read(DAILY).count(),
        }
    ev.unpersist()
