"""Deterministic sampling for training-data pipelines: uniform rate
sampling, per-stratum rates, and stable train/val splits.

Everything is keyed on a CONTENT hash (md5 of a key column + salt),
never on RNG state or row position, so samples are:
- reproducible across engines (the DuckDB oracles recompute them),
- reproducible across cluster layouts and retries (no
  rand()/monotonically_increasing_id in the decision path),
- stable under appends — a row's fate never changes when other rows
  arrive, which is what makes incremental dataset rebuilds sane.

Scale: pure map-side column expressions (one md5 per row), zero
shuffles; Catalyst pushes the keep-predicate into the scan's filter
stage, so a 1% sample of 100 TB reads everything once but shuffles
and writes only the 1%.

``df.sample()`` is deliberately not used: it is seeded per-partition,
so the same row's fate changes with partitioning — the opposite of
the reproducibility contract above.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .prefixsum import derived_range_partitions

#: 2^32 — the hash-unit denominator (8 md5 hex chars)
_UNIT = float(1 << 32)


def hash_unit(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform draw in [0, 1): leading 8 md5 hex chars
    of ``salt:key`` over 2^32. Same recipe as the dedup/minhash
    hashes, so any engine reproduces it bit-for-bit."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8), 16, 10
    ).cast("bigint")
    return h / F.lit(_UNIT)


def sample_deterministic(
    df: DataFrame, key: str, rate: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``rate`` of rows, decided per-row by content hash."""
    return df.where(hash_unit(key, salt) < rate)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key: str | None = None,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum sampling rates (the corpus-balancing move: e.g.
    keep 100% of rare languages, 5% of English). ``key`` defaults to
    the stratum column itself — pass the document id for row-level
    fates."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.where(hash_unit(key or strata_col, salt) < rate)


def train_val_split(
    df: DataFrame, key: str, val_fraction: float = 0.1, salt: str = "split"
) -> DataFrame:
    """Stable split assignment: adds ``split`` ∈ {'train','val'}.
    Keyed on content, so a document never migrates between splits
    across rebuilds (the leakage-prevention property training
    pipelines need)."""
    return df.withColumn(
        "split",
        F.when(hash_unit(key, salt) < val_fraction, F.lit("val")).otherwise(
            F.lit("train")
        ),
    )


def mixture(
    sources: "dict[str, tuple[DataFrame, float]]",
    key: str,
    total_rows: int | None = None,
    salt: str = "mixture",
    counts: "dict[str, int] | None" = None,
) -> DataFrame:
    """Weighted corpus mixture: union the sources downsampled so their
    contributions match the given weights — the dataset-mixing step of
    a training pipeline (e.g. 70% web text, 20% code, 10% reference).

    ``sources`` maps a name to (DataFrame, weight). Weights are
    normalized; ``total_rows`` caps the output size (None = the
    largest mixture achievable without upsampling any source). Counts
    are measured with one count() per source — driver-side scalars,
    the same cadence as a k-means fit — then every row's fate is the
    usual content hash: reproducible, partition-independent, and
    append-stable. No source is ever upsampled (rates cap at 1.0);
    if a source is too small for the requested mixture the achieved
    proportions shift, which ``mixture_report`` makes visible rather
    than silently duplicating rows.

    Output schema: each source's columns plus a ``source`` tag, so
    provenance survives into the mixed corpus (unionByName requires
    compatible schemas).
    """
    if any(w < 0 for _, w in sources.values()):
        raise ValueError("mixture weights must be non-negative")
    total_w = sum(w for _, w in sources.values())
    if total_w <= 0:
        raise ValueError("mixture needs at least one positive weight")
    if counts is None:
        counts = {name: df.count() for name, (df, _) in sources.items()}
    elif set(counts) != set(sources):
        raise ValueError("mixture: precomputed counts must cover every source")
    # A positively-weighted EMPTY source would make the feasibility
    # min 0 and silently empty the whole mixture (ADVICE r3) — that's
    # a caller error (a missing corpus), not a mixture to "achieve".
    empty = sorted(n for n, (_, w) in sources.items() if w > 0 and counts[n] == 0)
    if empty:
        raise ValueError(
            f"positively-weighted mixture sources have zero rows: {empty}"
        )
    # largest feasible mixture: the binding source is the one whose
    # count/weight ratio is smallest
    feasible = min(
        counts[name] / (w / total_w) for name, (_, w) in sources.items() if w > 0
    )
    target = feasible if total_rows is None else min(float(total_rows), feasible)
    out = None
    for name, (df, w) in sources.items():
        want = target * (w / total_w)
        rate = 0.0 if counts[name] == 0 else min(1.0, want / counts[name])
        part = sample_deterministic(df, key, rate, salt=f"{salt}:{name}").withColumn(
            "source", F.lit(name)
        )
        out = part if out is None else out.unionByName(part)
    return out


def temperature_weights(counts: "dict[str, int]", alpha: float = 0.5) -> "dict[str, float]":
    """Temperature-smoothed mixture weights (the mT5/XLM-R recipe):
    weight ∝ n^α. α = 1 reproduces natural proportions, α = 0 is
    uniform, the α = 0.5 default is the published sweet spot that
    keeps small corpora from drowning. α = 0.5 is computed with
    ``sqrt`` (correctly rounded by IEEE 754, so any engine reproduces
    the weights bit-for-bit); other α values use ``pow``, whose last
    ulp is libm-specific — fine for real use. For a fully
    cross-engine-replayable arbitrary-α plan, use the fixtrig path
    (exp(α·ln n) in Q40 fixed point — the
    ``mixture_temperature_alpha`` query and ``fixtrig.py_pow``)."""
    import math

    if not counts:
        raise ValueError("temperature_weights: no sources")
    if any(n < 0 for n in counts.values()):
        raise ValueError("temperature_weights: negative count")
    return {
        name: (math.sqrt(n) if alpha == 0.5 else float(n) ** alpha)
        for name, n in counts.items()
    }


def temperature_mixture(
    sources: "dict[str, DataFrame]",
    key: str,
    alpha: float = 0.5,
    total_rows: int | None = None,
    salt: str = "tempmix",
    counts: "dict[str, int] | None" = None,
) -> DataFrame:
    """Mix sources at temperature-smoothed proportions: counts are
    measured once (one count() scalar per source — or zero jobs when
    the caller passes ``counts`` from a single grouped aggregation
    over a shared base), smoothed into weights with
    ``temperature_weights``, and handed to ``mixture`` with the
    counts pre-measured — every row's fate stays a content hash."""
    if counts is None:
        counts = {name: df.count() for name, df in sources.items()}
    elif set(counts) != set(sources):
        raise ValueError("temperature_mixture: counts must cover every source")
    weights = temperature_weights(counts, alpha)
    return mixture(
        {name: (df, weights[name]) for name, df in sources.items()},
        key,
        total_rows=total_rows,
        salt=salt,
        counts=counts,
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_by: "list[Column]",
) -> DataFrame:
    """Keep at most ``n`` rows per group, ranked by ``order_by`` (the
    per-domain document cap of web-corpus curation: no single domain
    may dominate the corpus). Callers MUST make the ordering total
    (end with a unique tiebreaker column) or the cut at rank n is
    partition-dependent. Adds a ``rank`` column (1-based). One
    group-keyed shuffle for the ranking window."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("cap_per_group: n must be >= 1")
    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= n)
    )


def mixture_report(mixed: DataFrame) -> DataFrame:
    """Achieved per-source counts + proportions of a ``mixture``
    output — measure the mix, don't assume it (hash sampling hits the
    requested rate only in expectation)."""
    from pyspark.sql import Window

    return (
        mixed.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn(
            "proportion",
            F.col("n_rows") / F.sum("n_rows").over(Window.partitionBy()),
        )
    )


def kfold_split(df: DataFrame, key: str, k: int = 5, salt: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment: adds ``fold`` ∈ [0, k) from
    the content hash's integer residue (``md5-bigint % k`` — exact
    integer arithmetic, so folds are engine-identical with no float
    threshold at bucket boundaries). Same stability contract as
    ``train_val_split``: a row's fold never changes across engines,
    partitionings, retries, or appends — cross-validation folds stay
    leakage-free under dataset rebuilds. Pure map-side."""
    if k < 2:
        raise ValueError("kfold_split: k must be >= 2")
    c = F.col(key)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8), 16, 10
    ).cast("bigint")
    return df.withColumn("fold", (h % k).cast("int"))


def sample_weighted(
    df: DataFrame,
    weight_col: str,
    key: str,
    salt: str = "wsample",
) -> DataFrame:
    """Weight-proportional deterministic sampling: keep a row with
    probability ``weight / max(weight)`` (importance sampling by
    document length, quality score, etc.), decided by content hash —
    the weighted sibling of :func:`sample_deterministic`.

    The acceptance test is PURE INTEGER: with ``h`` the 32-bit hash
    draw, keep iff ``h · w_max < w · 2^32`` — algebraically
    ``u < w/w_max`` but with no float division, so no rounding edge
    can ever flip a decision between engines. Both products are
    computed in DECIMAL(38,0): ``h`` is up to 2^32−1, so an int64
    product silently wraps under Spark's non-ANSI arithmetic once
    ``max(weight)`` exceeds ~2^31 and FLIPS keep/drop decisions
    (advisor finding r5 — fine for token counts, wrong for e.g.
    1e9-fixed-point quality weights); the decimal products are exact
    to 10^38 ≫ 2^95, the true bound. ``w_max`` arrives as a 1-row
    broadcast aggregate (never a driver scalar); the predicate itself
    is map-side. Rows keep a ``draw_u`` column (the uniform draw as
    DOUBLE — one exact division) for observability."""
    c = F.col(key)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8), 16, 10
    ).cast("bigint")
    _dec = "decimal(38,0)"
    wmax = df.agg(F.max(F.col(weight_col).cast("bigint")).alias("_wmax"))
    return (
        df.crossJoin(F.broadcast(wmax))
        .withColumn("_h", h)
        .where(
            F.col("_h").cast(_dec) * F.col("_wmax").cast(_dec)
            < F.col(weight_col).cast(_dec) * F.lit(1 << 32).cast(_dec)
        )
        .withColumn("draw_u", F.col("_h") / F.lit(_UNIT))
        .drop("_h", "_wmax")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: "int | None" = None,
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic epoch shuffle: the global pseudorandom ordering a
    pretraining data loader needs, with NO global sort. Each row hashes
    to a shard (md5 prefix — seedable via ``salt``, engine-
    reproducible), takes its in-shard position from a SHARD-LOCAL
    window, and the round-robin interleave ``(pos−1)·S + shard + 1``
    yields a deterministic total order (injective; tail gaps where
    hash variance leaves shards unequal — readers stream shards in
    interleave order and never need contiguous ranks).

    ``n_shards`` is the scale knob: each shard is one window task, so
    size it to ~task-sized row counts. The default derives from the
    input — ``prefixsum.derived_range_partitions``, ``max(input
    partitions, spark.sql.shuffle.partitions)``, the rule
    ``prefixsum.running_sum`` sizes its range partitions with: a
    fixed constant means corpus/constant rows sorted per task at
    100 TB. Hash-seeded ⇒ RESUMABLE: re-running any subset of
    shards reproduces identical positions, which rand()-ordered sorts
    cannot. Appends (shard, pos, global_pos) to the input columns.
    """
    from pyspark.sql import Window

    if n_shards is None:
        n_shards = derived_range_partitions(df)
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    h = df.select("*", hv.alias("_hv"), (hv % n_shards).alias("_shard"))
    w = Window.partitionBy("_shard").orderBy("_hv", id_col)
    pos = F.row_number().over(w).cast("bigint")
    return (
        h.withColumn("pos", pos)
        .select(
            *df.columns,
            F.col("_shard").cast("int").alias("shard"),
            "pos",
            ((F.col("pos") - 1) * n_shards + F.col("_shard") + 1)
            .cast("bigint")
            .alias("global_pos"),
        )
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    difficulty_col: str,
    *,
    n_deciles: int = 10,
    n_shards: "int | None" = None,
    salt: str = "curr",
) -> DataFrame:
    """Curriculum ordering: easy→hard difficulty deciles, pseudo-
    randomly interleaved WITHIN each decile — the data order for
    difficulty-staged pretraining (readers stream ``ORDER BY (decile,
    pos)``). Composes the repo's two ordering primitives instead of a
    global sort:

    - decile membership from ``n_deciles − 1`` selection-descent
      thresholds over the unique combined key ``difficulty·M + id``
      (rank ⌈(d+1)·N/D⌉ each) + a map-side comparison count — never a
      global ``row_number`` (one task sorting the corpus). Threshold
      ranks are counted WITH multiplicity: for tiny inputs (N < D)
      distinct deciles share a rank, and each occurrence must bump the
      decile separately or boundary rows land one decile low vs the
      global-rank definition ``((rn−1)·D) DIV N`` (r8 advisor).
    - within-decile position from the :func:`epoch_shuffle` interleave
      (md5 shard + shard-local window + round-robin formula), so each
      (decile, shard) is one bounded task and the order is resumable.

    ``n_shards`` defaults to the same input-scaled rule as
    :func:`epoch_shuffle` — ``max(input partitions,
    spark.sql.shuffle.partitions)`` — so one (decile, shard) stays
    ~task-sized at any corpus size; pass an explicit constant only to
    pin reproducibility across environments (the oracle-gated demo
    query pins 16).

    Returns ``df[id_col, decile, pos]`` with decile ∈ [0, n_deciles)
    and pos the 1-based within-decile interleave position."""
    from pyspark.sql import Window

    from .orderstats import kth_smallest

    if n_shards is None:
        n_shards = derived_range_partitions(df)
    # key-contract validation (r9 advice): the combined key
    # difficulty·mult + id is injective and order-preserving ONLY for
    # integral difficulty and non-negative integer ids within
    # [0, mult) — a float difficulty would silently truncate against
    # the integer thresholds and a negative id would alias across
    # deciles. Validate loudly instead.
    from pyspark.sql import types as T

    for c, what in ((id_col, "id_col"), (difficulty_col, "difficulty_col")):
        dt = df.schema[c].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"curriculum_order: {what} {c!r} must be integral, got "
                f"{dt.simpleString()} — the combined decile key "
                "difficulty*mult + id is only injective over integer "
                "difficulties and non-negative integer ids; quantize "
                "(e.g. floor(difficulty*2^20)) first"
            )
    mult, n, idmin, dmin, dmax = df.agg(
        F.max(F.col(id_col)) + 1,
        F.count(F.lit(1)).cast("bigint"),
        F.min(F.col(id_col)),
        F.min(F.col(difficulty_col)),
        F.max(F.col(difficulty_col)),
    ).first()
    if n is None or int(n) == 0:
        raise ValueError("curriculum_order: empty input")
    mult, n = int(mult), int(n)
    if int(idmin) < 0:
        raise ValueError(
            f"curriculum_order: id_col {id_col!r} has negative values "
            f"(min={idmin}) — ids must be non-negative for the decile "
            "key to stay injective"
        )
    if max(abs(int(dmin)), abs(int(dmax))) * mult + mult >= 1 << 63:
        raise ValueError(
            f"curriculum_order: difficulty range [{dmin}, {dmax}] times "
            f"id multiplier {mult} overflows the int64 decile key — "
            "rescale the difficulty column"
        )
    keyed = df.select(
        F.col(id_col),
        (F.col(difficulty_col) * F.lit(mult) + F.col(id_col)).alias("ck"),
    )
    # duplicates preserved: rank_list, not a set (see docstring)
    rank_list = [
        ((d + 1) * n + n_deciles - 1) // n_deciles
        for d in range(n_deciles - 1)
    ]
    thresholds = kth_smallest(keyed, "ck", sorted(set(rank_list)))
    tarr = F.array(
        *[F.lit(int(thresholds[r])).cast("bigint") for r in rank_list]
    )
    decile = F.aggregate(
        tarr,
        F.lit(0),
        lambda acc, t: acc + F.when(F.col("ck") > t, 1).otherwise(0),
    ).cast("int")
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    staged = keyed.select(
        F.col(id_col),
        decile.alias("decile"),
        hv.alias("_hv"),
        (hv % n_shards).alias("_shard"),
    )
    w = Window.partitionBy("decile", "_shard").orderBy("_hv", id_col)
    sp = F.row_number().over(w).cast("bigint")
    return staged.select(
        id_col,
        "decile",
        ((sp - 1) * n_shards + F.col("_shard") + 1)
        .cast("bigint")
        .alias("pos"),
    )


def largest_remainder_quotas(
    counts: "dict[object, int]", num: int, den: int
) -> "dict[object, int]":
    """Largest-remainder (Hamilton) apportionment: split a total
    budget of ``floor(N·num/den)`` selections across strata exactly
    proportionally. ``base_s = floor(n_s·B/N)`` underfills by at most
    |strata| − 1; the shortfall goes to the strata with the largest
    integer remainders ``n_s·B mod N`` (ties broken by ``str(key)``
    ascending — deterministic for ANY key type, but note it is the
    string order: integer strata tie-break as '10' < '2', not 2 < 10;
    a numeric ORDER BY oracle must mirror the string cast). Pure-
    integer driver arithmetic on the
    bounded |strata| table (python ints — no int64 overflow at any
    corpus size)."""
    n_total = sum(counts.values())
    if n_total == 0:
        return {s: 0 for s in counts}
    budget = (n_total * num) // den
    base = {s: (n * budget) // n_total for s, n in counts.items()}
    extras = budget - sum(base.values())
    by_rem = sorted(
        counts,
        key=lambda s: (-((counts[s] * budget) % n_total), str(s)),
    )
    for s in by_rem[:extras]:
        base[s] += 1
    return base


def weighted_quotas(
    weights: "dict[object, int]", budget: int
) -> "dict[object, int]":
    """Largest-remainder apportionment of a FIXED budget across
    strata proportional to arbitrary non-negative integer WEIGHTS
    (not the strata's own sizes — the rank-weighted sampling case:
    Common Crawl's pipeline allocates crawl budget by host rank).
    ``base_s = floor(w_s·B/ΣW)``; the shortfall goes to the largest
    remainders ``(w_s·B) mod ΣW``, ties broken by ``str(key)``
    ascending (same contract as :func:`largest_remainder_quotas` —
    a SQL twin mirrors it with ``ORDER BY rem DESC, key``). Pure
    integer driver arithmetic on the bounded |strata| table; all
    weights zero (or a non-positive budget) allocates nothing.
    Negative weights and non-integer inputs raise: Python's
    floor-toward-negative-infinity division would silently produce
    negative quotas AND desync from the DuckDB twin's ``//`` on the
    same inputs."""
    bad = {s: w for s, w in weights.items() if not isinstance(w, int) or w < 0}
    if bad:
        raise ValueError(
            f"weighted_quotas: weights must be non-negative integers, got {bad}"
        )
    if not isinstance(budget, int):
        raise ValueError(f"weighted_quotas: budget must be an integer, got {budget!r}")
    wt = sum(weights.values())
    if wt == 0 or budget <= 0:
        return {s: 0 for s in weights}
    base = {s: (w * budget) // wt for s, w in weights.items()}
    extras = budget - sum(base.values())
    by_rem = sorted(
        weights,
        key=lambda s: (-((weights[s] * budget) % wt), str(s)),
    )
    for s in by_rem[:extras]:
        base[s] += 1
    return base


def capped_weighted_quotas(
    weights: "dict[object, int]",
    caps: "dict[object, int]",
    budget: int,
    rounds: int = 8,
) -> "dict[object, int]":
    """Capacity-aware rank-weighted apportionment — the WATERFALL
    :func:`weighted_quotas` production quota systems actually run:
    a stratum cannot absorb more than its availability ``cap``, and
    quota mass a saturated stratum leaves on the table reallocates
    (proportionally by weight) to the still-unsaturated strata in
    the next round, instead of silently shrinking the budget the
    way a one-shot ``min(quota, cap)`` does.

    Fixed ``rounds`` is the replay contract (the DuckDB twin unrolls
    exactly this many levels; converged rounds re-allocate zero
    identically on both engines). Each productive round saturates at
    least one stratum or drains the budget, so ``rounds ≥ |strata|``
    is always exact; the default 8 covers the demo corpus with
    convergence pinned in tests. Pure integer driver arithmetic on
    the bounded |strata| table."""
    alloc = {s: 0 for s in weights}
    remaining = int(budget)
    for _ in range(rounds):
        active = {
            s: w
            for s, w in weights.items()
            if w > 0 and alloc[s] < caps.get(s, 0)
        }
        if remaining <= 0 or not active:
            break  # == the twin's no-op levels (they allocate 0)
        q = weighted_quotas(active, remaining)
        for s, add in q.items():
            take = min(add, caps[s] - alloc[s])
            alloc[s] += take
            remaining -= take
    return alloc


def stratified_split_exact(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    frac: "tuple[int, int]" = (1, 10),
    salt: str = "split",
    hash_hex: int = 6,
    max_strata: int = 65536,
) -> DataFrame:
    """EXACT stratified eval/train split: each stratum contributes its
    largest-remainder share of a ``floor(N·num/den)`` eval budget —
    the allocation is exact in COUNT (unlike the rate-threshold
    :func:`train_val_split`, whose per-stratum counts are binomial),
    while membership stays content-hashed (uniform within the
    stratum, stable against reordering).

    Scale shape — the percentrank-by-type playbook, NOT a per-stratum
    sort window (one hot stratum = one task sorting its whole
    stratum):

    1. one (count, max-id) aggregate keyed by stratum — bounded
       |strata| rows to the driver;
    2. quotas via :func:`largest_remainder_quotas` (python-int
       driver arithmetic on that bounded table);
    3. ONE grouped bucketed-selection descent
       (:func:`orderstats.kth_smallest_by`, stats supplied — no
       second full scan) finds each stratum's quota-th smallest
       COMBINED KEY ``hv·M + id`` (hv = leading ``hash_hex`` md5 hex
       chars, M = max_id + 1 ⇒ keys unique, order = (hv, id)
       lexicographic; 6 hex ⇒ hv < 2^24, so the key stays int64 for
       ids up to 2^39);
    4. map-side filter ``key ≤ threshold`` — exactly quota rows per
       stratum because keys are unique. No per-stratum sort anywhere.

    ``max_strata`` bounds the driver state (the quota table and the
    descent's per-group histograms — same guard discipline as
    ``kth_smallest_by``'s ``max_groups``): the strata aggregate
    collects at most ``max_strata + 1`` rows and raises an actionable
    error beyond it, BEFORE any unbounded collect. A genuinely
    high-cardinality stratum column means every stratum is small by
    pigeonhole — use the rate-threshold :func:`train_val_split`
    there (binomial counts are fine for tiny strata).

    Returns ``df[id_col, stratum_col, split]`` with split ∈
    {'eval', 'train'}."""
    from .orderstats import kth_smallest_by

    num, den = frac
    probe = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)), F.max(F.col(id_col)))
        .limit(max_strata + 1)
        .collect()
    )
    if len(probe) > max_strata:
        raise ValueError(
            f"stratified_split_exact: more than max_strata={max_strata} "
            f"distinct {stratum_col!r} values. The exact-allocation split "
            "holds one quota row per stratum on the driver — with this "
            "many strata every stratum is small by pigeonhole, so use "
            "the rate-threshold train_val_split instead, or raise "
            "max_strata deliberately."
        )
    agg = {
        tuple_row[0]: (int(tuple_row[1]), int(tuple_row[2]))
        for tuple_row in probe
    }
    counts = {s: n for s, (n, _) in agg.items()}
    quotas = largest_remainder_quotas(counts, num, den)
    mult = max(mx for _, mx in agg.values()) + 1
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1,
            hash_hex,
        ),
        16,
        10,
    ).cast("bigint")
    keyed = df.select(
        F.col(id_col),
        F.col(stratum_col),
        (hv * F.lit(mult) + F.col(id_col)).alias("_key"),
    )
    ranks = {(s,): [q] for s, q in quotas.items() if q > 0}
    split = F.lit("train")
    if ranks:
        hi_key = (1 << (4 * hash_hex)) * mult - 1
        stats = {(s,): (0, hi_key, counts[s]) for (s,), _ in ranks.items()}
        values, _ = kth_smallest_by(
            keyed, stratum_col, "_key", ranks, stats=stats
        )
        # (stratum → threshold) as ONE flat map literal + element_at
        # lookup, not a chained F.when: a per-stratum when() nests one
        # CASE WHEN level per stratum, and at max_strata=65536 the
        # ~65k-deep expression tree can wedge or stack-overflow
        # Catalyst analysis (the same expression-growth hazard the old
        # k-means when-chain documented). The map literal is width,
        # not depth — one expression node with 2·|strata| children —
        # and stays a map-side lookup. Strata with quota 0 are absent
        # from the map: element_at yields NULL, the comparison yields
        # NULL, and otherwise() lands them in 'train', exactly the
        # old chain's fall-through.
        pairs: list = []
        for (s,), picked in values.items():
            pairs.append(F.lit(s))
            pairs.append(F.lit(int(picked[quotas[s]])).cast("bigint"))
        thr = F.element_at(F.create_map(*pairs), F.col(stratum_col))
        split = F.when(F.col("_key") <= thr, F.lit("eval")).otherwise(
            F.lit("train")
        )
    return keyed.select(
        id_col, stratum_col, split.alias("split")
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wrs",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row draws u from its content
    hash and competes with key = ln(u)/w — the top-k keys are a
    weight-proportional sample, exactly the distributed primitive for
    importance-weighted corpus subsampling (keep 1M docs ∝ quality
    score). Everything replays cross-engine: u = (h32+1)/2^32 is an
    exact power-of-two quotient of the md5 head (the repo's shared
    hash recipe), ln runs in Q40 fixed point (``fixtrig.ln``, ladder
    down to 2^-33 covers the smallest u), and the division by the
    positive weight is one correctly-rounded op. Selection is a
    global top-k — row_number over (key DESC, id) compiles to
    TakeOrderedAndProject, never a single-partition sort. Returns the
    sampled rows with ``_wrs_key`` and 1-based ``position``."""
    from pyspark.sql import Window

    from .fixtrig import StepBuilder, apply_steps_spark, dlit

    wmin = df.agg(F.min(F.col(weight_col))).first()[0]
    if wmin is not None and float(wmin) <= 0:
        raise ValueError(
            f"weighted_sample_topk: weights must be positive, found {wmin}"
        )
    hashed = df.withColumn(
        "_wrs_h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(key_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    sb = StepBuilder("spark", prefix="_wrs_fx")
    lnu = sb.ln(
        f"(CAST(_wrs_h + 1 AS DOUBLE) / {dlit(float(1 << 32))})",
        lo_exp=-33,
        hi_exp=1,
    )
    scored = apply_steps_spark(hashed, sb).withColumn(
        "_wrs_key",
        F.expr(f"({lnu}) / CAST({weight_col} AS DOUBLE)"),
    )
    w = Window.orderBy(F.desc("_wrs_key"), F.asc(key_col))
    return (
        scored.withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= k)
        .drop("_wrs_h", *[n for n, _ in sb.steps])
    )
