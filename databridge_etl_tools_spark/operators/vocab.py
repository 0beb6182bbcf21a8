"""Vocabulary induction + document encoding.

The tokenizer-adjacent pair every training pipeline runs: build a
frequency-ranked token→id vocabulary from the corpus, then encode
documents into id sequences against it.

Scale design:

- ``build_vocab``: the corpus pays one explode + one token-keyed
  count — the output is VOCABULARY-sized (orders of magnitude
  smaller than the corpus), but at 100 TB a vocabulary is still
  10⁸–10⁹ rows, so the frequency rank NEVER runs through a global
  ``Window.orderBy`` (the single-partition scale-killer this repo's
  own ``operators.util`` warns against). The id is a running count
  of rows in (count desc, token asc) order, computed by
  ``prefixsum.running_sum`` (the two-pass distributed prefix sum;
  see there). With ``max_size`` set, each partition additionally
  pre-prunes to its local top-``max_size`` BEFORE the range shuffle
  (a row outside its partition's top-``max_size`` by (count, token)
  can never make the global top-``max_size``), bounding shuffle
  volume to ``n_input_parts × max_size`` rows.
- ``encode_documents``: the vocabulary joins back onto the exploded
  (doc, pos, token) stream — BROADCAST while the vocabulary is small
  (``broadcast_threshold`` rows, counted with a vocabulary-sized
  aggregate), a plain token-keyed shuffle join above it (an uncapped
  100 TB vocabulary exceeds any broadcast budget and would OOM the
  driver) — and sequences reassemble with a struct-sorted
  collect_list, so the id order is exact and partition-independent.
  Unknown tokens map to ``oov_id`` and are counted per document
  (the OOV-rate QA signal).

Ranking is (count desc, token asc) — a total order, so ids are
engine-identical and stable across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize
from .prefixsum import running_sum
from .textstats import tokens


def tokenize_corpus(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One materialized ``(<id_col>, _toks)`` tokenization pass,
    shareable between :func:`build_vocab` and
    :func:`encode_documents` via their ``tokens_df`` parameter — the
    vocab+encode pipeline then tokenizes the corpus ONCE instead of
    once per stage (tokenization is the dominant map-side cost)."""
    return materialize(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    )


def build_vocab(
    docs: DataFrame | None = None,
    text_col: str = "text",
    *,
    min_count: int = 1,
    max_size: int | None = None,
    n_parts: int | None = None,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Frequency-ranked vocabulary: ``(token, token_id, count)`` with
    ``token_id`` dense from 0 in (count desc, token asc) order.
    Pass ``tokens_df`` (from :func:`tokenize_corpus`) to reuse an
    existing tokenization pass. ``n_parts`` defaults to
    ``prefixsum.derived_range_partitions``; the ids do not depend on
    it."""
    if tokens_df is not None:
        base = tokens_df
    elif docs is not None:
        base = materialize(docs.select(tokens(F.col(text_col)).alias("_toks")))
    else:
        raise ValueError("build_vocab: need docs or tokens_df")
    counts = (
        base.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )
    order = [F.desc("count"), F.asc("token")]
    if max_size is not None:
        wl = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
        counts = (
            counts.withColumn("_lr", F.row_number().over(wl))
            .where(F.col("_lr") <= max_size)
            .drop("_lr")
        )
    vocab = running_sum(
        counts.withColumns({"_neg": -F.col("count"), "_one": F.lit(1)}),
        ["_neg", "token"],
        "_one",
        n_parts=n_parts,
        out_col="token_id",
    ).withColumn("token_id", (F.col("token_id") - 1).cast("int"))
    if max_size is not None:
        vocab = vocab.where(F.col("token_id") < max_size)
    return vocab.select("token", "token_id", "count")


#: rows above which a vocabulary is joined by shuffle instead of
#: broadcast (~4M rows ≈ a few hundred MB of (token, id) pairs — the
#: edge of a sane executor/driver broadcast budget; see SCALE.md)
BROADCAST_VOCAB_MAX_ROWS = 4_000_000


def encode_documents(
    docs: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
    broadcast_threshold: int = BROADCAST_VOCAB_MAX_ROWS,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Encode each document against the vocabulary: ``(<id_col>,
    n_tokens, n_oov, ids ARRAY<INT>)`` — ids in original token order,
    unknown tokens as ``oov_id``.

    Size-aware vocabulary join: a vocabulary at or under
    ``broadcast_threshold`` rows (counted once — a vocabulary-sized
    aggregate) is broadcast so the corpus is never shuffled by token;
    a larger one falls back to a plain shuffle join on ``token``
    (an uncapped 100 TB-corpus vocabulary would blow any broadcast
    budget). Results are identical in both modes — only the physical
    join strategy changes. Pass ``tokens_df`` (from
    :func:`tokenize_corpus`) to reuse an existing tokenization
    pass."""
    base = (
        tokens_df
        if tokens_df is not None
        else materialize(
            docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        )
    )
    ex = base.select(id_col, F.posexplode_outer("_toks").alias("pos", "token"))
    # materialize BEFORE the size probe: build_vocab returns an
    # unmaterialized ranking plan (range-partition + prefix-sum), and
    # an eager count on it would recompute the whole lineage once for
    # the count and again for the join (advisor finding r5)
    v = materialize(vocab.select("token", "token_id"))
    if v.agg(F.count(F.lit(1))).collect()[0][0] <= broadcast_threshold:
        v = F.broadcast(v)
    else:
        # the count is exact: a small planner estimate (the prefix
        # sum's offsets are a LocalRelation) must not broadcast a
        # vocabulary counted past the threshold
        v = v.hint("shuffle_merge")
    joined = ex.join(v, "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).cast("int").alias("tid"),
        F.col("token_id").isNull().alias("_oov"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("pos").isNotNull(),
                        F.struct(F.col("pos"), F.col("tid")),
                    )
                )
            ).alias("_seq"),
            F.sum(
                F.when(F.col("pos").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("pos").isNotNull() & F.col("_oov"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("bigint").alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.transform(F.col("_seq"), lambda s: s["tid"]).alias("ids"),
        )
    )
