"""Per-entity event-sequence construction.

The training-example builder for sequential models (recommenders,
session models): gather each user's events in time order and keep the
most recent ``last_n`` — the fixed-length "interaction history"
feature.

Scale design: ONE user-keyed shuffle (the grouped collect); ordering
happens inside the aggregated array (``array_sort`` over
(ts, tiebreak, payload) structs), NOT via a global sort — so the
plan is a plain mergeable aggregation, deterministic under any
partitioning. The per-user array is bounded by that user's event
count; pathological power users are the caller's skew concern (cap
with a pre-filter or salt if one entity holds millions of events —
the truncation here happens AFTER collection, which is the correct
semantics for "most recent n" but means the collect sees all rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .prefixsum import internal_names, running_sum


def user_sequences(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    payload_col: str = "event_type",
    last_n: int = 10,
) -> DataFrame:
    """Build ``(user, n_events, last_events)`` where ``last_events``
    is the payload of the user's final ``last_n`` events ordered by
    (``ts_col``, ``tiebreak_col``) — the tiebreaker makes the order
    total, so equal timestamps can't make the sequence
    partition-dependent."""
    if last_n < 1:
        raise ValueError("user_sequences: last_n must be >= 1")
    ev = events.select(
        F.col(user_col),
        F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(payload_col)).alias("_e"),
    )
    agged = ev.groupBy(user_col).agg(
        F.array_sort(F.collect_list("_e")).alias("_seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tail = F.slice(
        F.col("_seq"),
        F.greatest(F.size("_seq") - F.lit(last_n) + F.lit(1), F.lit(1)),
        last_n,
    )
    return agged.select(
        user_col,
        "n_events",
        F.transform(tail, lambda e: e[payload_col]).alias("last_events"),
    )


def dense_index(
    df: DataFrame, id_col: str = "doc_id", n_parts: int | None = None
) -> DataFrame:
    """Dense 0..N-1 row index in ``id_col`` order — a running count
    (``prefixsum.running_sum`` over a constant 1, minus 1), never a
    global single-partition window. Returns the input keys plus
    ``row_index BIGINT``. ``n_parts`` defaults to
    ``prefixsum.derived_range_partitions``; the index does not depend
    on it."""
    (c_one,) = internal_names(df, "one")
    out = running_sum(
        df.withColumn(c_one, F.lit(1)), [id_col], c_one, n_parts=n_parts,
        out_col="row_index",
    )
    return out.withColumn("row_index", F.col("row_index") - 1).drop(c_one)


def negative_samples(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
    avoid_self: bool = True,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each row, ``k`` pseudo-random corpus rows drawn by content hash —
    ``idx_j = md5(salt:key:j) % N`` — mapped to real keys through the
    dense row index. No RNG state: the same (corpus, key, j) always
    yields the same negative, across engines, partitionings, and
    retries, so training examples are reproducible.

    Shape: the corpus pays the dense-index pass (two-pass prefix sum)
    and one join keyed on the drawn index — uniform by construction.
    N arrives as a 1-row broadcast aggregate, not a driver count.
    With ``avoid_self`` a row whose draw lands on itself keeps k-1
    negatives for that j (documented under-delivery, never a biased
    redraw). Returns ``(<key_col>, draw INT, neg_<key_col>)``."""
    if k < 1:
        raise ValueError("negative_samples: k must be >= 1")
    idx = dense_index(df.select(key_col), id_col=key_col)
    n_rows = idx.agg(F.count(F.lit(1)).alias("_n"))
    key = F.col(key_col)
    draws = (
        df.select(key_col)
        .select(key_col, F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("draw"))
        .crossJoin(F.broadcast(n_rows))
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"),
                    key.cast("string"),
                    F.lit(":"),
                    F.col("draw").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    drawn = draws.withColumn("_neg_idx", h % F.col("_n")).drop("_n")
    neg = idx.select(
        F.col(key_col).alias(f"neg_{key_col}"), F.col("row_index").alias("_neg_idx")
    )
    out = drawn.join(neg, "_neg_idx").select(
        key_col, F.col("draw").cast("int").alias("draw"), f"neg_{key_col}"
    )
    if avoid_self:
        out = out.where(F.col(key_col) != F.col(f"neg_{key_col}"))
    return out
