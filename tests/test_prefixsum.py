"""Two-pass distributed prefix sum vs a sorted python twin: exact
running totals over a total order, any input partitioning, stable
across recomputation (the materialized-pid contract)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from databridge_etl_tools_spark.operators.prefixsum import (
    derived_range_partitions,
    internal_names,
    running_sum,
)


def test_running_sum_matches_sorted_twin_any_partitioning(spark):
    rng = random.Random(17)
    rows = [(i, rng.randint(-50, 100)) for i in range(1000)]
    rng.shuffle(rows)
    twin = {}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        twin[k] = acc
    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(parts)
        out = running_sum(df, ["k"], "v", n_parts=8, out_col="run")
        got = {r["k"]: r["run"] for r in out.collect()}
        assert got == twin


def test_running_sum_composite_order_and_reread_stability(spark):
    # composite total order (ties on the first key broken by the
    # second) and re-collecting the SAME frame yields identical
    # values (the totals job and final plan share one checkpoint)
    rows = [(1, 1, 10), (1, 2, 5), (2, 1, 7), (2, 2, 1), (3, 1, 2)]
    df = spark.createDataFrame(rows, "a int, b int, v bigint")
    out = running_sum(df, ["a", "b"], "v", n_parts=3, out_col="run")
    want = {(1, 1): 10, (1, 2): 15, (2, 1): 22, (2, 2): 23, (3, 1): 25}
    got1 = {(r["a"], r["b"]): r["run"] for r in out.collect()}
    got2 = {(r["a"], r["b"]): r["run"] for r in out.collect()}
    assert got1 == want and got2 == want


def test_derived_partition_count_scales_with_input(spark):
    # r7 verdict: n_parts must track input size / cluster width, not a
    # hard constant — max(input partitions, spark.sql.shuffle.partitions)
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(100)
    wide = df.repartition(shuffle_parts + 17)
    assert derived_range_partitions(wide) == shuffle_parts + 17
    narrow = df.repartition(2)
    assert derived_range_partitions(narrow) == shuffle_parts
    # and the default path (n_parts=None) still computes exact totals
    rows = [(i, i % 5) for i in range(200)]
    src = spark.createDataFrame(rows, "k bigint, v bigint").repartition(
        shuffle_parts + 17
    )
    out = running_sum(src, ["k"], "v", out_col="run")
    acc, twin = 0, {}
    for k, v in sorted(rows):
        acc += v
        twin[k] = acc
    assert {r["k"]: r["run"] for r in out.collect()} == twin


def test_derived_partition_count_runs_no_job(spark):
    """Under AQE ``df.rdd.getNumPartitions()`` runs the input's shuffle
    stages; the count is read from the unexecuted plan instead, and it
    is never below what those stages settle on."""
    sc = spark.sparkContext
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    grouped = spark.range(100000).groupBy((F.col("id") % 1000).alias("k")).count()
    union = spark.range(100).repartition(3).union(
        spark.range(5).repartition(shuffle_parts + 6)
    )
    # exact where the count is explicit; a grouped input's count is its
    # shuffle's planned count, which AQE may coalesce below
    cases = [
        (grouped, None),
        (spark.range(100).repartition(shuffle_parts + 17), shuffle_parts + 17),
        (union, shuffle_parts + 9),
        (grouped.join(F.broadcast(spark.range(10).withColumnRenamed("id", "k")), "k"), None),
    ]
    for i, (df, want) in enumerate(cases):
        group = f"derived-range-partitions-{i}"
        sc.setJobGroup(group, "zero-job guard")
        try:
            got = derived_range_partitions(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], i
        assert got >= max(df.rdd.getNumPartitions(), shuffle_parts), i
        assert want is None or got == want, i


def test_internal_name_collisions_are_avoided(spark):
    # r7 advisor: caller columns named like the working columns must
    # survive — internal names shift to suffixed variants
    df = spark.createDataFrame(
        [(1, 10, "keep1", "keep2"), (2, 20, "x", "y")],
        "k bigint, v bigint, _pid string, _local string",
    )
    assert internal_names(df, "pid", "local", "v") == ["_pid_2", "_local_2", "_v"]
    out = running_sum(df, ["k"], "v", n_parts=2, out_col="run")
    assert set(out.columns) == {"k", "v", "_pid", "_local", "run"}
    got = {r["k"]: (r["run"], r["_pid"], r["_local"]) for r in out.collect()}
    assert got == {1: (10, "keep1", "keep2"), 2: (30, "x", "y")}
