"""Driver routes: the one size-gated step back to a single process.

Several operators are iterative fixpoints (graph walks, order-statistic
descents, Lloyd/k-center loops, BPE merge rounds) whose per-round
Spark job latency dwarfs the arithmetic on a BOUNDED input. For those
inputs the operator collects its projection ONCE via Arrow and runs an
exact numpy twin on the driver; past the budget the distributed plan
runs untouched — at 100 TB an edge table, value column or vocabulary
must never land on the driver.

This module is the whole mechanism: the per-route budget table, the
guarded collect and the Arrow→numpy decoding with its generic
refusals (NULLs, NULL vector elements, ragged vectors). Refusals that
belong to one operator's semantics (id types, zero norms, zero-length
or non-finite vectors, NULL group keys) stay at that operator.
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
