"""Per-segment key bloom filters — the TableStore's data-skipping
index for keyed streaming ingest.

``TableStore.upsert_epoch``'s fast path appends only the batch's
rows, but its new-key PROBE joined the batch against the FULL
accumulated ledger every micro-batch: per-batch read cost O(ledger),
the dominant term of a continuous-ingest funnel (measured: the
funnel's 2x2 drain design would not even fit an affine
batches/docs cost model — per-batch cost grew with accumulated
state). The lakehouse answer is file-level key statistics in the
commit log (Delta/Iceberg data skipping): keep a compact bloom of
each segment's keys, test the batch against the blooms (no false
negatives), and touch only the segments that might share a key. An
all-new-key batch — the common ingest case — then probes NOTHING:
per-batch cost is O(delta) for write AND read.

Representation: one bloom per segment, a FIXED ``M_BITS``-bit array
(uniform width so every segment shares the same hash positions and
the probe can pack all segments into one broadcast lookup), ``LANES``
xxhash64 lanes, stored sparsely in the manifest as
``{word_index: int64}`` (only non-zero 64-bit words). Blooms merge
by bitwise OR — segment compaction unions key sets, so the folded
segment's bloom is the OR of the folded blooms, no recompute.

Fixed width is the skipping RESOLUTION, not a correctness bound:
a segment with many more than ``M_BITS / 16`` keys saturates its
bloom and simply stops pruning (every probe reads it — exactly the
pre-bloom behavior). A real lakehouse sizes per-FILE blooms instead;
this local twin keeps one width so the packed-probe plan stays a
single tiny broadcast.

Everything here is pure DataFrame expressions: build is one
map-side aggregation over the delta (explode ``LANES`` positions,
group into 64-bit words with ``bit_or``), probe is ``LANES``
broadcast joins adding an ``array<long>`` column each — no Python
row work, no shuffle of the batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route

#: bloom width in bits (2^17 = 16 KiB dense). At 16 bits/key
#: (~8k keys/segment) the 4-lane false-positive rate is ~0.24%;
#: saturation degrades pruning, never exactness.
M_BITS = 1 << 17
#: 64-bit words per bloom.
WORDS = M_BITS >> 6
#: hash lanes per key.
LANES = 4


def _positions(keys: "list[str]") -> "list[Column]":
    """The LANES bit positions of a row's key, as long columns in
    [0, M_BITS). Lane i salts xxhash64 with a literal — stable
    across sessions, so persisted blooms stay valid."""
    return [
        F.pmod(F.xxhash64(*keys, F.lit(i)), F.lit(M_BITS))
        for i in range(LANES)
    ]


def bloom_build(df: DataFrame, keys: "list[str]") -> "dict[int, int]":
    """Sparse bloom of ``df``'s keys: one aggregation job over the
    delta (O(delta), map-side combine does the heavy lifting),
    collecting at most ``WORDS`` (word, bits) rows."""
    pos = F.explode(F.array(*_positions(keys))).alias("p")
    words = (
        df.select(pos)
        .select(
            F.shiftright("p", 6).alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    return {int(r["w"]): int(r["bits"]) for r in words}


def bloom_or(*blooms: "dict[int, int]") -> "dict[int, int]":
    """Merge blooms (segment compaction: key sets union, blooms OR)."""
    out: "dict[int, int]" = {}
    for b in blooms:
        for w, bits in b.items():
            out[w] = out.get(w, 0) | bits
    return out


def bloom_to_json(b: "dict[int, int]") -> "dict[str, int]":
    """JSON object keys must be strings; values are int64-safe."""
    return {str(w): bits for w, bits in b.items()}


def bloom_from_json(obj: "dict[str, int]") -> "dict[int, int]":
    return {int(w): int(bits) for w, bits in obj.items()}


def packed_lookup(
    spark: SparkSession, blooms: "list[dict[int, int]]"
) -> DataFrame:
    """One dense row per word index: (w, words[array over segments]).
    WORDS x len(blooms) longs — a few hundred KiB for a full
    32-segment table, always broadcast."""
    rows = [
        (w, [b.get(w, 0) for b in blooms]) for w in range(WORDS)
    ]
    return route.driver_frame(spark, rows, "w long, words array<long>")


def with_candidate_mask(
    batch: DataFrame,
    lookup: DataFrame,
    keys: "list[str]",
    out_col: str = "__bloom_mask",
) -> DataFrame:
    """Add ``out_col``: array<boolean>, element s true iff this row's
    key MIGHT be in segment s (all LANES bits set in bloom s). No
    false negatives — a false element PROVES the key is absent from
    that segment.

    Plan: LANES broadcast joins on the word index (each adds one
    array<long> column), then pure zip_with/transform folds. The
    batch never shuffles. The bit test is ``word & single-bit-mask``
    (shift amounts must be literals in PySpark's shift functions, so
    the mask is materialized as a column at join time); the HOF
    lambdas take exactly one parameter and close over column NAMES
    through a factory — a default-arg capture would read as a second
    lambda parameter and fail analysis."""

    def _bit_test(words_col: str, mask_col: str) -> Column:
        return F.transform(
            F.col(words_col),
            lambda wd: wd.bitwiseAND(F.col(mask_col)) != 0,
        )

    df = batch
    for i, p in enumerate(_positions(keys)):
        df = (
            df.withColumn(f"__bp{i}", p)
            .withColumn(f"__bw{i}", F.shiftright(F.col(f"__bp{i}"), 6))
            .withColumn(
                f"__bm{i}",
                F.expr(f"shiftleft(1L, cast(__bp{i} % 64 as int))"),
            )
            .join(
                F.broadcast(
                    lookup.select(
                        F.col("w").alias(f"__bw{i}"),
                        F.col("words").alias(f"__bwords{i}"),
                    )
                ),
                f"__bw{i}",
                "inner",  # lookup is dense over [0, WORDS): never drops
            )
        )
    lane_masks = [_bit_test(f"__bwords{i}", f"__bm{i}") for i in range(LANES)]
    mask = lane_masks[0]
    for m in lane_masks[1:]:
        mask = F.zip_with(mask, m, lambda a, b: a & b)
    df = df.withColumn(out_col, mask)
    drop = [
        c
        for i in range(LANES)
        for c in (f"__bp{i}", f"__bw{i}", f"__bm{i}", f"__bwords{i}")
    ]
    return df.drop(*drop)
