"""Sequence packing for pretraining dataloaders.

GPT-style corpora are assembled by concatenating documents in a
stable order and cutting the token stream every ``budget`` tokens; a
document belongs to the training sequence where it STARTS
(concat-and-chunk). The bin assignment is therefore a pure function
of (order, token counts) — ``floor(exclusive_prefix_sum / budget)`` —
independent of physical partitioning, which is what makes it
oracle-checkable and retry-stable.

The exclusive prefix sum is ``prefixsum.running_sum`` (the two-pass
distributed recipe, never a single-partition window) minus the row's
own size; the recipe and its invariants are documented there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .prefixsum import internal_names, running_sum


def pack_sequences(
    df: DataFrame,
    size_col: Column | str,
    id_col: str = "doc_id",
    budget: int = 256,
    n_parts: int | None = None,
) -> DataFrame:
    """Assign each row to its training sequence: df + ``seq_id``,
    ``seq_start`` (the row's global token offset). Rows are ordered by
    ``id_col``; ``size_col`` is the row's token count. ``n_parts``
    defaults to ``prefixsum.derived_range_partitions`` (scales with
    input size / cluster width instead of a hard constant)."""
    (c_n,) = internal_names(df, "n")
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    base = df.withColumn(c_n, size.cast("bigint"))
    return (
        running_sum(base, [id_col], c_n, n_parts=n_parts, out_col="seq_start")
        .withColumn("seq_start", F.col("seq_start") - F.col(c_n))
        .withColumn("seq_id", F.expr(f"seq_start DIV {budget}"))
        .drop(c_n)
    )
