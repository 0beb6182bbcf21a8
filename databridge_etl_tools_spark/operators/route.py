"""Driver routes: the one size-gated step back to a single process.

Several operators are iterative fixpoints (graph walks, order-statistic
descents, Lloyd/k-center loops, BPE merge rounds) whose per-round
Spark job latency dwarfs the arithmetic on a BOUNDED input. For those
inputs the operator collects its projection ONCE via Arrow and runs an
exact numpy twin on the driver; past the budget the distributed plan
runs untouched — at 100 TB an edge table, value column or vocabulary
must never land on the driver.

This module is the whole mechanism: the per-route budget table, the
guarded collect, the Arrow→numpy decoding with its generic refusals
(NULLs, NULL vector elements, ragged vectors) and the way back in
(:func:`driver_frame`). Refusals that belong to one operator's
semantics (id types, zero norms, zero-length or non-finite vectors,
NULL group keys) stay at that operator.

Arrow is the crossing both ways: results leave through ``toArrow``
and driver-side rows re-enter as a ``pyarrow.Table``, so no routed
query starts a Python worker.
"""

from __future__ import annotations

import os

#: route → (env var, default budget in collected rows). Each budget is
#: read at call time; 0 disables the route (the tests' A/B lever, the
#: ``SPARK_GRAFT_BENCH_LANE=dist`` lane, and the honest setting for
#: clusters whose driver is memory-starved).
#:
#: - graph: 8M edges ≈ 200 MB (3 × int64 columns); numpy rounds cost
#:   tens of milliseconds at this size.
#: - orderstats: 4M (group, value[, weight]) rows ≈ 100 MB.
#: - ann: 500k × 64-dim float64 ≈ 256 MB (also the PCA prefilter).
#: - bpe: 1M distinct words; pair types are bigram-bounded, orders of
#:   magnitude below the vocabulary.
BUDGETS = {
    "graph": ("SPARK_GRAFT_GRAPH_DRIVER_EDGES", 8_000_000),
    "orderstats": ("SPARK_GRAFT_ORDERSTATS_DRIVER_ROWS", 4_000_000),
    "ann": ("SPARK_GRAFT_ANN_DRIVER_ROWS", 500_000),
    "bpe": ("SPARK_GRAFT_BPE_DRIVER_VOCAB", 1_000_000),
}

#: the only collect failure that means "too big for the driver":
#: Spark's TaskSetManager aborts with "Total size of serialized
#: results of N tasks (…) is bigger than spark.driver.maxResultSize
#: (…)". Any other error propagates.
_ABORT = "spark.driver.maxResultSize"


def budget(route: str) -> int:
    """The row budget of ``route`` (a :data:`BUDGETS` key)."""
    env, default = BUDGETS[route]
    return int(os.environ.get(env, str(default)))


def collect_bounded(df, budget: int):
    """Collect ``df`` via Arrow → ``pyarrow.Table``, or None when the
    caller must take its distributed path: ``budget <= 0``, more than
    ``budget`` rows, or Spark aborted the collect on
    ``spark.driver.maxResultSize`` (1g default).

    Probe and collect are ONE plain parallel pass, bounded after the
    fact: the row count is checked on the collected table, and a
    wildly over-budget input is stopped by Spark's own maxResultSize
    abort, so it costs one partial scan and never OOMs the driver.

    Why not ``limit(budget+1)``: CollectLimit executes via
    ``executeTake``'s incremental partition ramp (1, 4, 16, ...
    partitions per job — ``spark.sql.limit.initialNumPartitions``),
    which serializes what should be one fully parallel pass; measured
    3.08 s vs 0.67 s for a 3.6M-edge union-of-joins lineage (r15,
    median-of-3), i.e. a bounded limit probe DOUBLED the routed path
    over even a count+collect shape (1.41 s). Raising the
    initial-partition count would instead let every task ship up to
    budget rows to the driver at once — unbounded driver memory at
    scale. Row order is whatever the collect returned; every twin
    normalizes (np.unique / lexsort / argsort) where order matters."""
    if budget <= 0:
        return None
    try:
        tbl = df.toArrow()
    except Exception as exc:
        if _ABORT in str(exc):
            return None
        raise
    return None if tbl.num_rows > budget else tbl


def driver_frame(spark, rows, schema):
    """``spark.createDataFrame(rows, schema)`` for driver-side rows
    (tuples, lists, dicts or ``Row``s), built from a ``pyarrow.Table``.

    The list path pickles the rows into a ``PythonRDD`` that Python
    workers re-serialize every time the frame runs (the first one in a
    process also starts the worker daemon). An Arrow table is handed to
    the JVM as record batches: below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) it
    becomes a ``LocalRelation``, above it an RDD of the batches; either
    way no Python worker runs.

    The list path's semantics are kept: every row passes the same type
    verifier (a wrong type, an int out of range, a NULL in a
    non-nullable field or a wrong row width raises), and values cross
    in their internal form, so a naive ``datetime`` is local time for
    ``timestamp`` and wall-clock time for ``timestamp_ntz``, and a
    top-level decimal is rounded half-up to its scale as the JVM does.
    The table holds ``defaultParallelism`` slices, the list path's
    ``parallelize`` split; empty slices are dropped, because a
    zero-row batch ends the JVM's read of the stream there (rows after
    it are lost)."""
    import decimal

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    cols = list(zip(*internal)) if internal else [()] * len(schema.fields)
    ctx = decimal.Context(prec=38, rounding=decimal.ROUND_HALF_UP)
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, T.DecimalType):
            q = decimal.Decimal(1).scaleb(-f.dataType.scale)
            cols[i] = [None if v is None else v.quantize(q, context=ctx) for v in cols[i]]
    arrow_schema = to_arrow_schema(schema)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(c, type=af.type) for c, af in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    n, p = batch.num_rows, spark.sparkContext.defaultParallelism
    cuts = [i * n // p for i in range(p + 1)]
    slices = [batch.slice(lo, hi - lo) for lo, hi in zip(cuts, cuts[1:]) if hi > lo]
    # no rows: one empty batch, as pyspark cannot re-chunk a nested
    # column that has no chunks
    return spark.createDataFrame(pa.Table.from_batches(slices or [batch]), schema)


def columns(tbl, names):
    """The ``names`` columns of ``tbl`` as numpy arrays, or None when
    any of them carries NULLs (distributed semantics own that case)."""
    out = []
    for n in names:
        col = tbl.column(n)
        if col.null_count:
            return None
        out.append(col.to_numpy(zero_copy_only=False))
    return out


def matrix(tbl, name):
    """The array column ``name`` as a float64 ``rows × dim`` matrix,
    or None on a NULL vector, a NULL element (NaN under numpy —
    argmax-divergent from the distributed NULL ordering) or ragged
    lengths (fall back rather than raise)."""
    import numpy as np
    import pyarrow.compute as pc

    col = tbl.column(name)
    if col.null_count:
        return None
    flat = pc.list_flatten(col)
    if flat.null_count:
        return None
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if lens.size and int(lens.min()) != int(lens.max()):
        return None
    dim = int(lens[0]) if lens.size else 0
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(lens), dim)
    )
