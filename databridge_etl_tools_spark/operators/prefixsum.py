"""Scale-safe GLOBAL ordered aggregation (running totals).

``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` with no
PARTITION BY is the canonical single-task killer: Spark plans an
``Exchange SinglePartition`` and sorts the entire input in one task.
The distributed classic is the two-pass prefix sum, and
:func:`running_sum` is the package's one implementation of it. Every
global ordered running value goes through it: token offsets
(``packing.pack_sequences``), vocabulary ranks (``vocab.build_vocab``),
dense row indexes (``sequences.dense_index``) and the running-total
queries. The recipe:

1. ``repartitionByRange`` on the order keys — disjoint, ordered key
   ranges, each sorted LOCALLY by its own task;
2. per-partition running sum (a window keyed by the partition id —
   every partition is a bounded task);
3. per-partition totals → driver cumulative offsets (n_parts rows —
   a bounded collect) → broadcast join adds each partition's offset.

The partition-tagged running frame is MATERIALIZED with
``cut_lineage=True`` before the totals collect: the totals job and
the final plan must see the SAME partition assignment, and
``repartitionByRange``'s sampled boundaries are not
re-execution-stable (observed: a 10 k-row input shifted a boundary by
3 rows between the two jobs, skewing every downstream offset — caught
by the oracle). Lineage-keeping strategies (``persist`` block loss →
recompute; ``none`` → two independent executions) re-expose exactly
that boundary-shift hazard, so this site demands a lineage-cutting
materialization — r7 advisor finding. The checkpoint also means the
window pass runs once, not twice.

Partition-count sizing (100 TB story): ``n_parts`` defaults to
``max(input partitions, spark.sql.shuffle.partitions)`` — a fixed
constant would concentrate terabytes per task at scale (32 parts over
100 TB ≈ 3 TB sorted per task). The target is ordinary
shuffle-partition sizing (~128 MB–1 GB of rows per range partition);
callers with wider inputs raise ``spark.sql.shuffle.partitions`` or
pass ``n_parts`` explicitly. The driver-side offset collect stays
bounded at n_parts scalars either way.

Determinism for oracle parity: feed an INTEGER value column
(fixed-point if the source is double) — integer addition is
order-independent, so the running values are engine-identical under
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import route


def derived_range_partitions(df: DataFrame) -> int:
    """Default range-partition count for two-pass prefix sums:
    ``max(input partitions, spark.sql.shuffle.partitions)``. Tracks
    cluster sizing instead of a hard constant — the input partition
    count scales with data volume (parquet splits), the shuffle conf
    with cluster width.

    Runs no Spark job. Under AQE ``df.rdd.getNumPartitions()`` executes
    the input's shuffle stages to settle their coalesced count, so an
    adaptive plan is read before execution instead
    (:func:`_planned_partitions`): a shuffle's count before coalescing,
    which is at least the count AQE settles on."""
    shuffle_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        n = _planned_partitions(plan.inputPlan())
    else:
        n = df.rdd.getNumPartitions()
    return max(n, shuffle_parts, 1)


def _planned_partitions(plan) -> int:
    """Partition count of an unexecuted physical plan: the count its
    partitioning declares (every exchange declares one), else the sum
    over a union's children or the largest child's. A leaf that
    declares none (a file or RDD scan) is asked for its RDD, which
    lists files but runs no job; one holding a subquery (dynamic
    partition pruning) would run it, and counts 0."""
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    counts = [_planned_partitions(kids.apply(i)) for i in range(kids.size())]
    if not counts:
        return plan.execute().getNumPartitions() if plan.subqueries().isEmpty() else 0
    return sum(counts) if plan.nodeName() == "Union" else max(counts)


def internal_names(df: DataFrame, *stems: str) -> "list[str]":
    """Collision-proof working-column names: ``_<stem>`` unless the
    caller's dataframe already uses it, else ``_<stem>_2``, ``_3``, …
    (r7 advisor: a public building block must not silently overwrite
    and drop a caller column that happens to be named ``_pid``)."""
    taken = set(df.columns)
    out = []
    for stem in stems:
        name = f"_{stem}"
        i = 2
        while name in taken:
            name = f"_{stem}_{i}"
            i += 1
        taken.add(name)
        out.append(name)
    return out


def running_sum(
    df: DataFrame,
    order_cols: "list[str]",
    value_col: str,
    *,
    n_parts: int | None = None,
    out_col: str = "running",
) -> DataFrame:
    """Add ``out_col`` = cumulative sum of ``value_col`` over the
    TOTAL order given by ``order_cols`` (inclusive frame — the row's
    own value counts), without a single-partition sort. The order
    must be total (include a unique tiebreaker column) or rows tied
    on all keys get frame-order-dependent running values — the same
    contract every deterministic ORDER BY window carries here.

    ``n_parts`` defaults to :func:`derived_range_partitions` (scales
    with input size / cluster width; see module docstring)."""
    from .materialize import materialize

    if n_parts is None:
        n_parts = derived_range_partitions(df)
    c_v, c_pid, c_local, c_off = internal_names(df, "v", "pid", "local", "offset")
    base = df.withColumn(c_v, F.col(value_col).cast("bigint"))
    parts = base.repartitionByRange(n_parts, *order_cols).withColumn(
        c_pid, F.spark_partition_id()
    )
    w = (
        Window.partitionBy(c_pid)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # cut_lineage: correctness, not reuse — see module docstring
    local = materialize(
        parts.withColumn(c_local, F.sum(c_v).over(w)), cut_lineage=True
    )
    totals = (
        local.groupBy(c_pid).agg(F.sum(c_v).alias("_total")).orderBy(c_pid).collect()
    )
    acc = 0
    offsets = []
    for r in totals:
        offsets.append((int(r[c_pid]), acc))
        acc += int(r["_total"])
    off_df = route.driver_frame(
        local.sparkSession, offsets, f"{c_pid} int, {c_off} bigint"
    )
    return (
        local.join(F.broadcast(off_df), c_pid)
        .withColumn(out_col, (F.col(c_off) + F.col(c_local)).cast("bigint"))
        .drop(c_pid, c_local, c_off, c_v)
    )
