"""Graph centrality over edge tables — crawl-graph quality signals.

Web-scale corpus curation weighs documents by the link-graph standing
of their source (Common Crawl pipelines rank hosts by
PageRank/harmonic centrality before sampling); the same primitive
ranks suppliers in a purchase graph or users in an interaction graph.
The reference engine has no graph surface; this is a Spark-first
design:

- the graph stays a DataFrame of edges — nodes are never collected;
- each PageRank iteration is ONE equi-join (ranks ⋈ edges on src) +
  ONE dst-keyed aggregation, both shuffle-partitioned on the node
  key, so a 100 TB edge table runs as ``iters`` co-partitioned
  hash joins (pre-bucket both tables by node id to delete the
  per-iteration exchange entirely);
- arithmetic is INTEGER FIXED POINT (the r8/r9 oracle-promotion
  discipline, ``operators/intlin.py``): rank mass is a q40 int64 per
  node, per-edge contributions are trunc divisions ``r // outdeg``,
  and the damping blend is integer ``(num·r) // den`` — every
  intermediate is engine-independent, so the fixed iteration count
  unrolls into DuckDB CTE levels and the oracle replays the whole
  fixpoint bit-for-bit. Aggregation sums run in DECIMAL(38,0)
  (Spark) / HUGEINT (DuckDB): exact at any node count, while
  per-node ranks stay < 2^63 by construction (total mass is
  conserved up to trunc-division floors, so a node's rank never
  exceeds the initial total N·2^40 ≪ int64 for the per-node value).

Semantics (deterministic fixed-point PageRank): with damping d =
num/den and N nodes,

    r⁰(v)   = 2^40
    contrib = r(u) // outdeg(u)              per edge (u → v)
    dangling = Σ_{outdeg(u)=0} r(u)
    rᵗ⁺¹(v) = ((den−num)·2^40) // den
              + (num · (Σ_in contrib + dangling // N)) // den

Floors lose ≤ 1 ulp of mass per term — fixed-point PageRank, exactly
reproducible everywhere, converging to the float fixpoint within
~2⁻⁴⁰·iters relative (quality pinned vs a float twin in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import route

Q_RANK = 40  #: per-node rank fixed point (initial rank = 2^40)


def _require_integral(df: DataFrame, col: str, op: str) -> None:
    """Reject non-integral weight columns LOUDLY: the replay contract
    is 'positive integers', and a silent ``cast('long')`` would floor
    fractional weights (1.5 → 1), quietly diverging from an oracle
    fed the raw column (r10 advice). Quantize fractional weights
    explicitly (e.g. ``floor(w * 2^20)``) before calling."""
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if not isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"{op}: weight column {col!r} must be integral, got "
            f"{dt.simpleString()} — fractional weights would be "
            "silently floored by the long cast; quantize them "
            "explicitly (e.g. floor(w * 2^20)) first"
        )


def _driver_route_arrays(e: DataFrame, cols: "list[str]"):
    """The edge selection's ``cols`` as numpy arrays for the numpy
    driver route (see ``operators.graph_np``): at or under
    ``route.budget("graph")`` rows the caller runs the exact fixpoint
    driver-side; past it (or NULLs in any column, or a maxResultSize
    abort — see ``route.collect_bounded``) returns None and the
    distributed loop proceeds untouched."""
    # node columns concatenated into one index universe must share a
    # dtype: the routed result declares _src's type while distributed
    # unionByName coerces to the wider one (r14 advisor item)
    if "_src" in cols and "_dst" in cols:
        if e.schema["_src"].dataType != e.schema["_dst"].dataType:
            return None
    tbl = route.collect_bounded(e, route.budget("graph"))
    return None if tbl is None else route.columns(tbl, cols)


def _source_nodes(sources: DataFrame, node_col: str):
    """The distinct source ids of a routed traversal as one numpy
    array, or None (over the graph budget, NULL ids or an abort)."""
    s_df = sources.select(F.col(node_col).alias("node")).distinct()
    tbl = route.collect_bounded(s_df, route.budget("graph"))
    s_cols = None if tbl is None else route.columns(tbl, ["node"])
    return None if s_cols is None else s_cols[0]


def _np_result_df(spark, fields):
    """Build the routed result DataFrame from ``(name, dataType,
    numpy values)`` triples with an explicit schema, so the routed
    and distributed paths return identical column names AND types."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(n, dt, True) for n, dt, _ in fields]
    )
    pdf = pd.DataFrame({n: v for n, _, v in fields})
    return spark.createDataFrame(pdf, schema)


def _triangles_np_df(spark, node_t, src, dst):
    """``(node, n_triangles)`` from ``graph_np.triangle_counts_np``
    on a deduplicated, self-loop-free, both-directions edge list, or
    None past the wedge-volume guard."""
    from pyspark.sql import types as T

    from . import graph_np

    try:
        nd, tv = graph_np.triangle_counts_np(src, dst)
    except graph_np.NpOverflow:
        return None
    return _np_result_df(
        spark, [("node", node_t, nd), ("n_triangles", T.LongType(), tv)]
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
    damping: tuple[int, int] = (85, 100),
    weight_col: "str | None" = None,
    edges_ready: bool = False,
    broadcast_node_budget: int = 2_000_000,
    weights_checked: bool = False,
    rank_bits: "int | None" = None,
    seeds: "DataFrame | None" = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-point PageRank over a directed edge DataFrame.

    Returns ``(node, rank_q, rank)`` — the exact q40 integer rank
    (oracle-hashable) and its float form ``rank_q / 2^40`` (one exact
    power-of-two division). Unweighted (default): duplicate edges
    count once, contributions are ``rank // outdeg``. Weighted
    (``weight_col`` — positive integers; duplicate (src, dst) rows
    sum): contributions are the per-edge trunc division
    ``(rank · w) // out_strength`` in DECIMAL(38,0)/HUGEINT, so the
    weighted walk is exactly as replayable as the unweighted one.
    Self-loops are legal. ``iters`` is the replay contract: the
    DuckDB twin unrolls exactly this many CTE levels.

    ``edges_ready=True`` declares the caller's edge table is ALREADY
    deduplicated (per-pair weights pre-summed in the weighted case),
    cheap to rescan, and — the 100 TB lever — stored so its scan
    satisfies the contrib join's required distribution: a catalog
    table bucketed on the src column (layout.build_purchase_edges).
    The operator then skips its own dedup+checkpoint and joins the
    scan directly: every one of the ``iters`` contrib joins consumes
    the bucketed layout with NO edge-side exchange (plan-pinned in
    tests/test_layout.py), leaving the unavoidable dst-keyed
    aggregation shuffle as each iteration's only data movement.
    Results are bit-identical either way (integer fixpoint, pinned).

    ``broadcast_node_budget``: rank tables at or below this node
    count are broadcast-hinted into the contrib join (checkpointed
    iterates lose size stats, so Spark would otherwise plan
    sort-merge); above it the shuffle join is the honest path —
    that's the regime where the bucketed layout pays.

    ``rank_bits`` (default ``Q_RANK`` = 40): the rank quantization.
    Total mass is N·2^rank_bits, so per-node int64 headroom is only
    provable for ``N < 2^(62 − rank_bits)`` — the default certifies
    ~4.2M nodes at q40 precision; web-scale graphs pass a smaller
    value (e.g. ``rank_bits=20`` certifies N < 2^42 ≈ 4.4T nodes at
    ~1e-6 rank precision, still far tighter than float PageRank's
    accumulated error). The oracle twin must unroll with the same
    quantization. This is the in-code remediation for the headroom
    guard (r10 advice: the guard used to make the advertised
    web-scale regime unreachable).

    ``seeds`` switches the walk to PERSONALIZED PageRank (the
    TrustRank family, Gyongyi et al. 2004): initial mass and the
    teleport term go only to the seed set (one row per seed node id
    in ``seed_col``; ids absent from the graph are ignored), and the
    dangling mass is redistributed over the seeds instead of all
    nodes. Rank then measures proximity-weighted reachability FROM
    the seeds — the curation primitive for propagating trust from a
    vetted whitelist (curated domains, human-audited documents)
    through a link/interaction graph. Same integer fixpoint, same
    replay contract: per-seed init 2^rank_bits, teleport
    ``((den-num)·2^q) // den`` per seed, ``dang // n_seeds`` per
    seed — the DuckDB twin unrolls identically
    (``pagerank_personalized_levels``). Total mass is bounded by
    n_seeds·2^q ≤ N·2^q, so the headroom guard is unchanged."""
    num, den = damping
    q = Q_RANK if rank_bits is None else int(rank_bits)
    if not (8 <= q <= Q_RANK):
        raise ValueError(f"pagerank: rank_bits must be in [8, {Q_RANK}], got {q}")
    if weight_col is not None:
        _require_integral(edges, weight_col, "pagerank")
    from .materialize import materialize

    # the edge table feeds every iteration's contrib join plus the
    # node/out-degree setup — materialize it once (its upstream is
    # whatever join built the graph; without the cut each of the
    # iters iterations re-runs that upstream: measured 11.3 s → the
    # per-iteration cost of the demo graph's orders⋈lineitem build).
    # edges_ready callers skip this: their table is already distinct
    # and a (bucketed) scan per iteration is the cheaper re-read.
    if weight_col is None:
        raw = edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        )
    else:
        raw = edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight_col).cast("long").alias("_w"),
        )
    # numpy driver route (guide §1.2/§2.4 — see operators.graph_np):
    # bounded graphs run the exact fixpoint driver-side instead of
    # paying iters × (join + agg + checkpoint) of per-job fixed cost.
    # The route probes the RAW edge selection, BEFORE the distributed
    # dedup/group normalization — numpy normalizes for free on the
    # collected arrays, deleting the distinct/groupBy shuffle AND its
    # checkpoint from the routed path. Over budget / NULLs /
    # uncertifiable int64 headroom → the distributed loop below,
    # untouched.
    arrays = _driver_route_arrays(
        raw, ["_src", "_dst"] + ([] if weight_col is None else ["_w"])
    )
    if arrays is not None:
        from pyspark.sql import types as T

        from . import graph_np

        node_t = raw.schema["_src"].dataType
        seed_vals = None
        routable = True
        if seeds is not None:
            if isinstance(
                node_t,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            ):
                seed_vals = [
                    r[0]
                    for r in seeds.select(
                        F.col(seed_col).cast("long").alias("node")
                    )
                    .distinct()
                    .collect()
                    if r[0] is not None
                ]
            else:
                # seeded walks compare long-cast seed ids against the
                # node column; replicate only for integral node types
                routable = False
        if routable:
            try:
                if weight_col is None:
                    s_a, d_a = graph_np.dedup_pairs(arrays[0], arrays[1])
                    w_a = None
                else:
                    s_a, d_a, w_a = graph_np.group_pairs(
                        arrays[0], arrays[1], arrays[2]
                    )
                    if (
                        not weights_checked
                        and w_a.size
                        and int(w_a.min()) <= 0
                    ):
                        raise ValueError(
                            f"pagerank: weights must be positive "
                            f"integers, found {int(w_a.min())}"
                        )
                nd, rq = graph_np.pagerank_np(
                    s_a,
                    d_a,
                    w_a,
                    iters=iters,
                    num=num,
                    den=den,
                    q=q,
                    seed_ids=seed_vals,
                )
            except graph_np.NpOverflow:
                pass
            else:
                out = _np_result_df(
                    raw.sparkSession,
                    [("node", node_t, nd), ("rank_q", T.LongType(), rq)],
                )
                return out.select(
                    "node",
                    "rank_q",
                    (
                        F.col("rank_q").cast("double")
                        / F.lit(float(1 << q))
                    ).alias("rank"),
                )
    if weight_col is None:
        e = raw
        if not edges_ready:
            e = materialize(e.distinct())
        outdeg_agg = F.count(F.lit(1)).cast("long").alias("outdeg")
    else:
        if edges_ready:
            e = raw
        else:
            e = materialize(
                edges.groupBy(
                    F.col(src).alias("_src"), F.col(dst).alias("_dst")
                ).agg(F.sum(F.col(weight_col)).cast("long").alias("_w"))
            )
        if not weights_checked:
            # an extra JOB over the edge table (the eager-guard-probe
            # tax, SCALE.md) — callers whose weights are positive BY
            # CONSTRUCTION (e.g. the layout's COUNT(*) column) attest
            # with weights_checked=True and skip it
            wmin = e.agg(F.min("_w")).first()[0]
            if wmin is not None and wmin <= 0:
                raise ValueError(
                    f"pagerank: weights must be positive integers, "
                    f"found {wmin}"
                )
        # outdeg = out-STRENGTH in the weighted walk
        outdeg_agg = F.sum("_w").cast("long").alias("outdeg")
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("_src").alias("node")).agg(outdeg_agg)
    # node table with outdeg (0 for dangling) — reused every iteration
    base = materialize(
        nodes.join(outdeg, "node", "left").select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0).cast("long")).alias(
                "outdeg"
            ),
        )
    )
    n_nodes = base.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty graph")
    # int64 headroom audit: mass is conserved up to floors, so a
    # per-node rank is bounded by the TOTAL mass N·2^40 — provably
    # < 2^63 only for N < 2^22 (one spare bit for the num· multiply
    # before its DIV den). Beyond that a fully-concentrated hub could
    # wrap the BIGINT cast silently (Spark non-ANSI) — raise loudly
    # with the remediation instead of advertising a bound we can't
    # keep (r9 advice).
    if n_nodes >= (1 << (62 - q)):
        raise ValueError(
            f"pagerank: {n_nodes} nodes — per-node q{q} rank is only "
            f"provably < 2^63 for N < 2^{62 - q} (total mass N·2^{q} "
            "could concentrate on one hub). Pass a smaller rank_bits "
            "(e.g. rank_bits=20 certifies N < 2^42) or partition the "
            "graph before ranking."
        )
    seeded = seeds is not None
    n_seeds = 0
    if seeded:
        # mark the seed nodes on the (already materialized) node
        # table — one bounded join; seed whitelists are small, so
        # Catalyst broadcasts under the threshold without a forced
        # hint (a forced hint would be a scale hazard if a caller
        # ever passes a huge seed table)
        sd = (
            seeds.select(F.col(seed_col).cast("long").alias("node"))
            .distinct()
            .withColumn("_seed", F.lit(True))
        )
        base = materialize(
            base.join(sd, "node", "left").select(
                "node",
                "outdeg",
                F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed"),
            )
        )
        n_seeds = base.where(F.col("_seed")).count()
        if n_seeds == 0:
            raise ValueError(
                "pagerank: none of the seed ids occur in the graph"
            )
    # dangling nodes are a STATIC property of the graph — probe once
    # at setup (one count over the checkpointed base) and skip the
    # per-iteration dangling-mass scalar entirely when there are none
    # (a bidirectional graph never has any; saves one broadcast
    # sub-job per iteration)
    has_dangling = base.where(F.col("outdeg") == 0).limit(1).count() > 0
    teleport = ((den - num) * (1 << q)) // den
    keep_cols = ["node", "outdeg"] + (["_seed"] if seeded else [])
    init_q = (
        F.when(F.col("_seed"), F.lit(1 << q)).otherwise(F.lit(0))
        if seeded
        else F.lit(1 << q)
    )
    ranks = base.select(
        *keep_cols, init_q.cast("long").alias("rank_q")
    )
    # the checkpointed rank table has no size stats, so Spark would
    # plan the contrib join as a full sort-merge (BOTH sides shuffled
    # every iteration — measured ~40% of the demo's per-iteration
    # cost). n_nodes is already known exactly: broadcast the rank side
    # while it fits (node tables at web-graph scale exceed any
    # broadcast budget — there the shuffle join IS the honest path,
    # and bucketing edges+ranks on node id deletes the exchange).
    rank_hint = (
        (lambda d: F.broadcast(d))
        if n_nodes <= broadcast_node_budget
        else (lambda d: d)
    )
    persisted = None
    if edges_ready:
        # regime-aware edge residency (both ways measured at sf0.1):
        # broadcast regime — the contrib join is a BroadcastHashJoin
        # that streams the edge side, and checkpointed row blocks
        # scan faster than re-decoding a columnar cache (5.40 s vs
        # 4.66 s the other way around); shuffle regime — persist()
        # keeps the BUCKETED scan's HashPartitioning through
        # InMemoryRelation, so every iteration's sort-merge join
        # consumes the cache with NO edge-side exchange (a
        # localCheckpoint would lose the partitioning and re-shuffle
        # the big side every iteration).
        if n_nodes <= broadcast_node_budget:
            e = materialize(e)
        else:
            from pyspark import StorageLevel

            e = e.persist(StorageLevel.MEMORY_AND_DISK)
            persisted = e
    for _ in range(iters):
        # trunc division: Spark's integer DIV truncates toward zero,
        # same as DuckDB // (ranks are non-negative, so floor == trunc)
        contrib_expr = (
            "rank_q DIV outdeg"
            if weight_col is None
            else "CAST(CAST(rank_q AS DECIMAL(38,0)) * _w"
            " DIV outdeg AS BIGINT)"
        )
        contrib = (
            rank_hint(ranks.where(F.col("outdeg") > 0))
            .join(e, F.col("node") == e["_src"])
            .select(
                F.col("_dst").alias("node"),
                F.expr(contrib_expr).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("in_q"))
        )
        rebuilt = base.join(rank_hint(contrib), "node", "left")
        if has_dangling:
            # dangling mass stays IN-PLAN as a 1-row broadcast scalar
            # (no per-iteration driver action — an eager .first() here
            # would re-execute the whole lineage every round,
            # O(iters²))
            dang = ranks.where(F.col("outdeg") == 0).agg(
                F.coalesce(
                    F.sum(F.col("rank_q").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("dang_q")
            )
            rebuilt = rebuilt.crossJoin(F.broadcast(dang))
            # seeded walk: dangling mass teleports back to the SEED
            # set (TrustRank), not uniformly over all nodes
            dshare = (
                f"CASE WHEN _seed THEN CAST(dang_q AS DECIMAL(38,0))"
                f" DIV {n_seeds} ELSE CAST(0 AS DECIMAL(38,0)) END"
                if seeded
                else f"CAST(dang_q AS DECIMAL(38,0)) DIV {n_nodes}"
            )
            new_rank = F.expr(
                f"CAST({num} * (CAST(coalesce(in_q, 0) AS DECIMAL(38,0))"
                f" + {dshare})"
                f" DIV {den} AS BIGINT)"
            )
        else:
            new_rank = F.expr(
                f"CAST({num} * CAST(coalesce(in_q, 0) AS DECIMAL(38,0))"
                f" DIV {den} AS BIGINT)"
            )
        # materialize each iterate — the GraphX lineage-cut discipline.
        # Measured both ways on the demo graph: skipping the cut when
        # the iterate has one consumer looks safe on paper but the
        # next round's BROADCAST exchange materializes its subtree
        # independently, so un-cut lineage re-executes levels 1..t at
        # every level t — O(iters²), ~2× slower end-to-end. The cut
        # keeps every iteration one pass regardless of join strategy.
        tele = (
            F.when(F.col("_seed"), F.lit(teleport)).otherwise(F.lit(0))
            if seeded
            else F.lit(teleport)
        )
        ranks = materialize(
            rebuilt.select(
                *keep_cols,
                (tele.cast("long") + new_rank).alias("rank_q"),
            )
        )
    if persisted is not None:
        # the final ranks are materialized (checkpointed), so nothing
        # downstream references the cached edge table — release it
        # instead of letting repeated pagerank calls accumulate
        # executor cache pressure (r10 advice)
        persisted.unpersist()
    return ranks.select(
        "node",
        "rank_q",
        (F.col("rank_q").cast("double") / F.lit(float(1 << q))).alias(
            "rank"
        ),
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    weight_col: "str | None" = None,
    self_weight: int = 1,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) —
    community detection over an edge DataFrame: every node starts as
    its own label, and each round adopts the most frequent label among
    its neighbors PLUS ITSELF (the self-vote damps the oscillation
    synchronous updates suffer on bipartite graphs), ties to the
    SMALLEST label. Fully deterministic — no RNG, no update order —
    so the fixed round count unrolls into oracle CTE levels exactly
    like the PageRank fixpoint; after ``iters`` rounds the label is
    the community id (min-id representative in converged regions).

    WEIGHTED variant (``weight_col`` — positive integers; duplicate
    (src, dst) rows sum): a neighbor's vote counts its edge weight
    and the self-vote counts ``self_weight``, so strongly-attached
    labels win over merely-numerous ones; vote sums run in
    DECIMAL(38,0)/HUGEINT (exact at any strength), ties still to the
    smallest label — exactly as replayable as the unweighted count.

    Per round: one src-keyed equi-join + one (node, label) weight sum
    + one per-node argmax window over ≤ degree+1 rows, iterate
    checkpointed (the same lineage-cut discipline as ``pagerank``).
    Supply both edge directions for an undirected graph. Returns
    ``(node, label)``."""
    from pyspark.sql import Window

    from .materialize import materialize

    if weight_col is None:
        raw = edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        )
    else:
        _require_integral(edges, weight_col, "label_propagation")
        raw = edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight_col).cast("long").alias("_w"),
        )
    # numpy driver route — the exact vote/argmax rounds on the
    # collected RAW edge list (normalization happens on the arrays,
    # deleting the distinct/groupBy shuffle; operators.graph_np)
    arrays = _driver_route_arrays(
        raw, ["_src", "_dst"] + ([] if weight_col is None else ["_w"])
    )
    if arrays is not None:
        from . import graph_np

        try:
            if weight_col is None:
                s_a, d_a = graph_np.dedup_pairs(arrays[0], arrays[1])
                w_a = None
            else:
                s_a, d_a, w_a = graph_np.group_pairs(
                    arrays[0], arrays[1], arrays[2]
                )
                if w_a.size and int(w_a.min()) <= 0:
                    raise ValueError(
                        "label_propagation: weights must be positive "
                        f"integers, found {int(w_a.min())}"
                    )
            nd, lab = graph_np.label_propagation_np(
                s_a,
                d_a,
                w_a,
                iters=iters,
                self_weight=self_weight,
            )
        except graph_np.NpOverflow:
            pass
        else:
            node_t = raw.schema["_src"].dataType
            return _np_result_df(
                raw.sparkSession,
                [("node", node_t, nd), ("label", node_t, lab)],
            )
    if weight_col is None:
        e = materialize(raw.distinct())
    else:
        e = materialize(
            edges.groupBy(
                F.col(src).alias("_src"), F.col(dst).alias("_dst")
            ).agg(F.sum(F.col(weight_col)).cast("long").alias("_w"))
        )
        wmin = e.agg(F.min("_w")).first()[0]
        if wmin is not None and wmin <= 0:
            raise ValueError(
                "label_propagation: weights must be positive integers, "
                f"found {wmin}"
            )
    nodes = materialize(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("label_propagation: empty graph")
    hint = (lambda d: F.broadcast(d)) if n_nodes <= 2_000_000 else (
        lambda d: d
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.desc("_n"), F.asc("label")
    )
    for _ in range(iters):
        if weight_col is None:
            neigh = (
                hint(labels)
                .join(e, F.col("node") == e["_src"])
                .select(
                    F.col("_dst").alias("node"),
                    "label",
                    F.lit(1).cast("long").alias("_v"),
                )
            )
            selfv = labels.select(
                "node", "label", F.lit(1).cast("long").alias("_v")
            )
        else:
            neigh = (
                hint(labels)
                .join(e, F.col("node") == e["_src"])
                .select(
                    F.col("_dst").alias("node"),
                    "label",
                    F.col("_w").alias("_v"),
                )
            )
            selfv = labels.select(
                "node",
                "label",
                F.lit(int(self_weight)).cast("long").alias("_v"),
            )
        counts = (
            neigh.unionByName(selfv)
            .groupBy("node", "label")
            .agg(F.sum(F.col("_v").cast("decimal(38,0)")).alias("_n"))
        )
        labels = materialize(
            counts.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("node", "label")
        )
    return labels


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 6,
) -> DataFrame:
    """Connected components as a min-label fixpoint — the package's
    one connected-components loop (``dedup.connected_components`` and
    ``er`` adapt it). Every node starts as its own label, each round
    takes ``min(label, min over incoming neighbors' labels)``. The
    update is MONOTONE (labels only decrease), so like BFS it unrolls
    into oracle CTE levels, and the engine may propagate only the
    CHANGED frontier — a node whose label did not change last round
    has nothing new to offer its neighbors (the min-merge would
    discard the re-delivery) — while the unrolled twin re-propagates
    everything: identical labels at every level, strictly less join
    work (the BFS frontier-delta argument, pinned in tests).

    ``iters`` is an upper bound on rounds: nodes within graph
    distance ``iters`` of their component's minimum carry it (the
    replay contract — covers diameter ≤ iters). The loop stops after
    the first round that changes no label, since every later round
    would change none either. That check adds no Spark job: it is a
    ``count_if(label < old)`` Observation on the round's
    lineage-cutting checkpoint. Supply both edge directions for an
    undirected graph. Returns ``(node, label)``."""
    from .materialize import materialize

    raw = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    # numpy driver route — min-label fixpoint on the index universe
    # (order-isomorphic to node values; duplicate edges are harmless
    # to a MIN fixpoint, so the raw selection routes directly and the
    # distinct shuffle is deleted from the routed path)
    arrays = _driver_route_arrays(raw, ["_src", "_dst"])
    if arrays is not None:
        from . import graph_np

        nd, lab = graph_np.connected_components_np(
            arrays[0], arrays[1], iters=iters
        )
        node_t = raw.schema["_src"].dataType
        return _np_result_df(
            raw.sparkSession,
            [("node", node_t, nd), ("label", node_t, lab)],
        )
    e = materialize(raw.distinct())
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    labels = materialize(nodes.select("node", F.col("node").alias("label")))
    frontier = labels
    for _ in range(iters):
        prop = (
            frontier.join(e, frontier["node"] == e["_src"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.min("label").alias("_nl"))
        )
        lowered = Observation()
        merged = materialize(
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
                ).alias("label"),
            )
            .observe(lowered, F.count_if(F.col("label") < F.col("_old")).alias("n")),
            cut_lineage=True,
        )
        labels = merged.select("node", "label")
        if lowered.get["n"] == 0:
            break
        frontier = merged.where(F.col("label") < F.col("_old")).select(
            "node", "label"
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
    edges_ready: bool = False,
) -> DataFrame:
    """Bounded-hop BFS — exact shortest-path distances (in hops) from
    a source set, the traversal primitive behind neighborhood
    expansion (crawl frontier growth, fraud-ring radius, 'customers
    within k hops of this supplier'). ``max_hops`` is both the state
    bound and the replay contract: each hop is ONE frontier⋈edges
    equi-join + ONE min-distance merge (the checkpointed iterate is
    the lineage cut), and the fixed hop count unrolls into oracle CTE
    levels. FRONTIER-DELTA expansion (r10): only the nodes settled in
    the PREVIOUS hop (``dist == hop-1``) join against edges — classic
    unweighted-BFS optimality makes re-expanding earlier-settled
    nodes pure waste (any path re-entering them carries a strictly
    larger distance, which the min-merge discards), so each hop's
    join cost tracks the NEW frontier, not the accumulated settled
    set. Results are bit-identical to full re-expansion (pinned in
    tests); the oracle unrolling keeps the full-re-expansion form —
    the min-merge absorbs the difference. Returns ``(node, dist)``
    for every node within ``max_hops`` (unreached nodes are absent —
    at web scale you never materialize the unreachable complement)."""
    from .materialize import materialize

    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    # numpy driver route — frontier BFS on the collected RAW edge
    # list (duplicate edges are harmless to BFS, so the distinct
    # shuffle is deleted from the routed path); sources must be
    # bounded and share the edge node type (the union of the two
    # columns would otherwise coerce, which only the distributed
    # path owns)
    arrays = _driver_route_arrays(e, ["_src", "_dst"])
    if arrays is not None and (
        e.schema["_src"].dataType
        == sources.schema[node_col].dataType
    ):
        from . import graph_np

        s_nodes = _source_nodes(sources, node_col)
        if s_nodes is not None:
            from pyspark.sql import types as T

            nd, dv = graph_np.bfs_np(
                arrays[0], arrays[1], s_nodes, max_hops=max_hops
            )
            return _np_result_df(
                e.sparkSession,
                [
                    ("node", e.schema["_src"].dataType, nd),
                    ("dist", T.IntegerType(), dv.astype("int32")),
                ],
            )
    if not edges_ready:
        # dedup + lineage-cut the edge build; edges_ready callers
        # (a deduped catalog/bucketed table) re-scan per hop instead
        e = materialize(e.distinct())
    dist = materialize(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
    )
    for hop in range(1, max_hops + 1):
        # after hop k the settled set holds exactly the nodes at true
        # distance ≤ k, each with its final dist — so the only rows
        # that can DISCOVER nodes at distance hop are last hop's
        # frontier (dist == hop-1); older rows only re-derive larger
        # distances the min-merge would drop anyway
        frontier = dist.where(F.col("dist") == hop - 1)
        stepped = frontier.join(e, frontier["node"] == e["_src"]).select(
            F.col("_dst").alias("node"),
            F.lit(hop).cast("int").alias("dist"),
        )
        dist = materialize(
            dist.unionByName(stepped)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )
    return dist


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts — the local clustering signal (spam
    farms and boilerplate rings are triangle-dense; organic link
    neighborhoods are not). DEGREE-ORDERED enumeration, the standard
    scale trick: orient every undirected edge from its lower-degree
    endpoint to the higher (ties by node id), so each triangle is
    enumerated exactly once at its lowest-degree apex and the wedge
    join's fan-out is bounded by Σ d_i^(3/2) instead of Σ d_i² — a
    hub of degree d contributes wedges only through its (few)
    lower-degree neighbors, never d² of its own. Three joins total
    (wedge build + closing-edge semi-join + count-back), no
    iteration. Supply both edge directions; returns ``(node,
    n_triangles)`` for every node in the graph (0 for
    triangle-free)."""
    from .materialize import materialize

    raw = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    ).where(F.col(src) != F.col(dst))
    # numpy driver route — degree-ordered wedge enumeration on the
    # collected RAW edge list (dedup on the arrays; falls back past
    # the wedge-volume budget; operators.graph_np)
    arrays = _driver_route_arrays(raw, ["_src", "_dst"])
    if arrays is not None:
        from . import graph_np

        out = _triangles_np_df(
            raw.sparkSession,
            raw.schema["_src"].dataType,
            *graph_np.dedup_pairs(arrays[0], arrays[1]),
        )
        if out is not None:
            return out
    e = materialize(raw.distinct())
    deg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # total order on nodes: (degree, node id) — deterministic
    da = deg.select(F.col("node").alias("_src"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("_dst"), F.col("deg").alias("_degb"))
    oriented = materialize(
        e.join(da, "_src")
        .join(db, "_dst")
        .where(
            (F.col("_dega") < F.col("_degb"))
            | ((F.col("_dega") == F.col("_degb")) & (F.col("_src") < F.col("_dst")))
        )
        .select("_src", "_dst")
    )
    a = oriented.select(F.col("_src").alias("_apex"), F.col("_dst").alias("_b"))
    b = oriented.select(F.col("_src").alias("_apex"), F.col("_dst").alias("_c"))
    wedges = a.join(b, "_apex").where(F.col("_b") < F.col("_c"))
    closing = oriented.select(
        F.col("_src").alias("_b"), F.col("_dst").alias("_c")
    ).unionByName(
        oriented.select(F.col("_dst").alias("_b"), F.col("_src").alias("_c"))
    )
    tris = wedges.join(closing, ["_b", "_c"], "left_semi").select(
        "_apex", "_b", "_c"
    )
    per_node = (
        tris.select(F.col("_apex").alias("node"))
        .unionByName(tris.select(F.col("_b").alias("node")))
        .unionByName(tris.select(F.col("_c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    nodes = deg.select("node")
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
            "n_triangles"
        ),
    )


def shortest_paths_bounded(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Bounded-hop weighted shortest paths (min-plus Bellman-Ford):
    exact cheapest-path cost from a source set using at most
    ``max_hops`` edges — BFS generalized to the tropical semiring.
    Weights must be POSITIVE INTEGERS (costs stay exact int64, so the
    fixed relaxation count unrolls into oracle CTE levels bit-for-bit;
    guarded). Each round relaxes only the IMPROVED frontier — a node
    whose cost did not improve last round already delivered every
    relaxation it can (the min-merge discards re-deliveries), the
    same delta argument as BFS/components; the unrolled twin relaxes
    everything, identical costs per level. Returns ``(node, dist)``
    for nodes reachable within ``max_hops`` edges."""
    from .materialize import materialize

    _require_integral(edges, weight_col, "shortest_paths_bounded")
    raw = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    # numpy driver route — bounded min-plus relaxation driver-side
    # (per-pair MIN normalization happens on the collected arrays)
    arrays = _driver_route_arrays(raw, ["_src", "_dst", "_w"])
    if arrays is not None and (
        raw.schema["_src"].dataType
        == sources.schema[node_col].dataType
    ):
        from . import graph_np

        s_nodes = _source_nodes(sources, node_col)
        if s_nodes is not None:
            from pyspark.sql import types as T

            try:
                s_a, d_a, w_a = graph_np.group_pairs(
                    arrays[0], arrays[1], arrays[2], reduce="min"
                )
                if w_a.size and int(w_a.min()) <= 0:
                    raise ValueError(
                        "shortest_paths_bounded: weights must be "
                        "positive integers, found "
                        f"{int(w_a.min())}"
                    )
                nd, dv = graph_np.shortest_paths_np(
                    s_a, d_a, w_a, s_nodes, max_hops=max_hops
                )
            except graph_np.NpOverflow:
                pass
            else:
                return _np_result_df(
                    raw.sparkSession,
                    [
                        ("node", raw.schema["_src"].dataType, nd),
                        ("dist", T.LongType(), dv),
                    ],
                )
    e = materialize(
        edges.groupBy(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        ).agg(F.min(F.col(weight_col)).cast("long").alias("_w"))
    )
    wmin = e.agg(F.min("_w")).first()[0]
    if wmin is not None and wmin <= 0:
        raise ValueError(
            f"shortest_paths_bounded: weights must be positive integers, "
            f"found {wmin}"
        )
    dist = materialize(
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    frontier = dist
    for _ in range(max_hops):
        relax = frontier.join(e, frontier["node"] == e["_src"]).select(
            F.col("_dst").alias("node"),
            (F.col("dist") + F.col("_w")).cast("long").alias("dist"),
        )
        merged = materialize(
            dist.select("node", F.col("dist").alias("_old"))
            .join(
                relax.groupBy("node").agg(F.min("dist").alias("_new")),
                "node",
                "full",
            )
            .select(
                "node",
                F.coalesce(F.col("_old"), F.lit((1 << 62))).alias("_old"),
                F.least(
                    F.coalesce(F.col("_old"), F.lit((1 << 62))),
                    F.coalesce(F.col("_new"), F.lit((1 << 62))),
                ).alias("dist"),
            )
        )
        frontier = merged.where(F.col("dist") < F.col("_old")).select(
            "node", "dist"
        )
        dist = merged.select("node", "dist")
    return dist


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight_col: "str | None" = None,
) -> DataFrame:
    """K-CORE PEELING — the maximal subgraph where every node keeps
    at least ``k`` neighbors, by iterated deletion of under-degree
    nodes (Seidman 1983; the graph-curation primitive for pruning
    weakly-connected spam/low-signal hosts before trust or community
    passes — a node's core membership is robust where raw degree is
    gameable by one burst of edges).

    ``edges`` is the undirected convention used across this module:
    both directions of every edge present; duplicates are deduped
    once up front, so degree = distinct-neighbor count. Each round is
    one src-keyed degree aggregation plus two node-keyed semi-join
    restrictions, with the iterate checkpointed (the same
    shuffle-per-round discipline as the other fixpoints; co-bucketing
    edges on the node key deletes the join exchanges at 100 TB).

    ``rounds`` is the REPLAY CONTRACT, exactly like ``pagerank``'s
    ``iters``: the DuckDB twin unrolls this many peel levels, and the
    result after ``rounds`` peels equals the true k-core iff one more
    round changes nothing (converged — at most |V| rounds ever;
    demo-scale convergence is pinned in tests). Returns the remaining
    ``(node, deg)`` table — degrees measured in the surviving
    subgraph.

    ``weight_col`` switches to the S-CORE (strength core, Eidsaa &
    Almaas 2013): the threshold applies to each node's total incident
    edge WEIGHT (positive integers; duplicate (src, dst) rows sum —
    the same contract as weighted pagerank/LPA), so a node survives on
    the combined strength of its ties rather than their count — the
    weighted-graph robustness gate (a hub with many weak ties and one
    with few strong ties rank the same when their strengths match).
    Returned ``deg`` becomes the surviving STRENGTH."""
    from .materialize import materialize

    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    if weight_col is not None:
        _require_integral(edges, weight_col, "kcore")
        raw = edges.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight_col).cast("long").alias("_w"),
        )
    else:
        raw = edges.select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst")
        )
    cols = ["_src", "_dst"] + (["_w"] if weight_col is not None else [])
    # numpy driver route — the same peel rounds + early exit on the
    # collected RAW edge list (normalization on the arrays;
    # operators.graph_np)
    arrays = _driver_route_arrays(raw, cols)
    if arrays is not None:
        from pyspark.sql import types as T

        from . import graph_np

        try:
            if weight_col is None:
                s_a, d_a = graph_np.dedup_pairs(arrays[0], arrays[1])
                w_a = None
            else:
                s_a, d_a, w_a = graph_np.group_pairs(
                    arrays[0], arrays[1], arrays[2]
                )
            nd, dv = graph_np.kcore_np(
                s_a, d_a, w_a, k=k, rounds=rounds
            )
        except graph_np.NpOverflow:
            pass
        else:
            return _np_result_df(
                raw.sparkSession,
                [
                    ("node", raw.schema["_src"].dataType, nd),
                    ("deg", T.LongType(), dv),
                ],
            )
    if weight_col is not None:
        e = materialize(
            edges.groupBy(
                F.col(src).alias("_src"), F.col(dst).alias("_dst")
            ).agg(F.sum(F.col(weight_col)).cast("long").alias("_w"))
        )
        deg_agg = F.sum("_w").cast("long").alias("deg")
    else:
        e = materialize(raw.distinct())
        deg_agg = F.count(F.lit(1)).cast("long").alias("deg")
    # monotone-fixpoint early exit: the edge set only shrinks, and a
    # round that removes NO edge removed no node either (every node
    # has edges by construction), so all later rounds are identities
    # and breaking keeps the `rounds` replay contract bit-for-bit.
    # The stability probe is one count() on the round's ALREADY
    # materialized edge table — nearly free — while a converged peel
    # stops paying restrict joins over the full edge set (measured:
    # the s-core demo at ~sf1 was linear-in-rows from exactly this,
    # 5 no-op rounds re-churning 2M edges; 40.97 s → 10.88 s).
    n_edges = e.count()
    for _ in range(rounds):
        keep = (
            e.groupBy(F.col("_src").alias("node"))
            .agg(deg_agg)
            .where(F.col("deg") >= k)
            .select("node")
        )
        e = materialize(
            e.join(keep.withColumnRenamed("node", "_src"), "_src")
            .join(keep.withColumnRenamed("node", "_dst"), "_dst")
            .select(*cols)
        )
        n2 = e.count()
        if n2 == n_edges:
            break
        n_edges = n2
    return e.groupBy(F.col("_src").alias("node")).agg(deg_agg)


def coreness(
    edges: DataFrame,
    *,
    k_max: int = 4,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BOUNDED CORE DECOMPOSITION — each node's core number (the
    largest k with the node inside the k-core), capped at ``k_max``:
    the full-resolution version of :func:`kcore` membership, the
    standard graph-robustness score (Batagelj-Zaversnik; curation
    pipelines bucket hosts by coreness, not raw degree). Computed by
    successive peeling — the k-core of G equals the k-core of the
    (k−1)-core, so each k restarts from the previous survivor graph
    and the total work is one monotonically-shrinking peel sequence,
    (k_max−1)·rounds degree-agg + restriction rounds. Every node in
    the edge table has coreness ≥ 1 (the 1-core peel removes only
    isolated nodes, which an edge table cannot contain); values equal
    to ``k_max`` mean "≥ k_max". ``rounds`` per k is the replay
    contract, as in :func:`kcore`. Returns ``(node, coreness)``."""
    from .materialize import materialize

    if k_max < 1:
        raise ValueError(f"coreness: k_max must be >= 1, got {k_max}")
    raw = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    # numpy driver route — successive peeling driver-side (dedup on
    # the collected arrays; operators.graph_np)
    arrays = _driver_route_arrays(raw, ["_src", "_dst"])
    if arrays is not None:
        from pyspark.sql import types as T

        from . import graph_np

        s_a, d_a = graph_np.dedup_pairs(arrays[0], arrays[1])
        nd, cv = graph_np.coreness_np(
            s_a, d_a, k_max=k_max, rounds=rounds
        )
        return _np_result_df(
            raw.sparkSession,
            [
                ("node", raw.schema["_src"].dataType, nd),
                ("coreness", T.IntegerType(), cv.astype("int32")),
            ],
        )
    e = materialize(raw.distinct())
    n_edges = e.count()
    out = e.select(F.col("_src").alias("node")).distinct()
    flags = []
    for k in range(2, k_max + 1):
        for _ in range(rounds):
            # same edge-count monotone-fixpoint early exit as kcore:
            # a round that removes no edge makes later rounds identity
            keep = (
                e.groupBy(F.col("_src").alias("node"))
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select("node")
            )
            e = materialize(
                e.join(keep.withColumnRenamed("node", "_src"), "_src")
                .join(keep.withColumnRenamed("node", "_dst"), "_dst")
                .select("_src", "_dst")
            )
            n2 = e.count()
            if n2 == n_edges:
                break
            n_edges = n2
        surv = e.select(F.col("_src").alias("node")).distinct()
        col = f"_m{k}"
        flags.append(col)
        out = out.join(surv.withColumn(col, F.lit(1)), "node", "left")
    core = F.lit(1)
    for col in flags:
        core = core + F.coalesce(F.col(col), F.lit(0))
    return out.select("node", core.cast("int").alias("coreness"))


def shared_item_pairs(
    df: DataFrame,
    item_col: str,
    member_col: str,
    *,
    min_shared: int,
) -> DataFrame:
    """Pairs of members sharing at least ``min_shared`` distinct
    items — the co-occurrence graph builder (co-purchase edges,
    blocking candidates). Returns ``(a, b)`` with ``a < b``, one row
    per qualifying unordered pair. Distributed plan: distinct
    (item, member) → item-keyed self-join with ``a < b`` → pair count
    → threshold (fan-out bounded by Σ n_item² — the honest shuffle at
    scale); under the driver budget the numpy twin enumerates the
    same pairs on the collected arrays
    (``graph_np.shared_item_pairs_np``, same pair-volume guard as
    the wedge route)."""
    raw = _item_members(df, item_col, member_col)
    pairs = _shared_pairs_np(raw, min_shared)
    if pairs is not None:
        return _pairs_df(raw, pairs)
    return _shared_pairs_dist(raw, min_shared)


def shared_item_triangles(
    df: DataFrame,
    item_col: str,
    member_col: str,
    *,
    min_shared: int,
) -> DataFrame:
    """:func:`triangle_counts` over the :func:`shared_item_pairs`
    graph (both directions of every pair): ``(node, n_triangles)``.
    When the pairs take the driver route and both directions fit the
    graph budget, the triangles are counted on the same arrays
    (``graph_np.triangle_counts_np``) instead of sending the pairs
    back through Spark to be collected again."""
    raw = _item_members(df, item_col, member_col)
    pairs = _shared_pairs_np(raw, min_shared)
    if pairs is not None and 2 * len(pairs[0]) <= route.budget("graph"):
        import numpy as np

        a, b = pairs
        out = _triangles_np_df(
            raw.sparkSession,
            raw.schema["_m"].dataType,
            np.concatenate([a, b]),
            np.concatenate([b, a]),
        )
        if out is not None:
            return out
    co = _shared_pairs_dist(raw, min_shared) if pairs is None else _pairs_df(raw, pairs)
    edges = co.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(co.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return triangle_counts(edges)


def _item_members(df: DataFrame, item_col: str, member_col: str) -> DataFrame:
    return df.select(F.col(item_col).alias("_i"), F.col(member_col).alias("_m"))


def _shared_pairs_np(raw: DataFrame, min_shared: int):
    """The routed pairs as ``(a, b)`` numpy arrays, or None (over the
    graph budget, NULLs, an abort, or past the pair-volume guard)."""
    arrays = _driver_route_arrays(raw, ["_i", "_m"])
    if arrays is None:
        return None
    from . import graph_np

    try:
        return graph_np.shared_item_pairs_np(
            arrays[0], arrays[1], min_shared=min_shared
        )
    except graph_np.NpOverflow:
        return None


def _pairs_df(raw: DataFrame, pairs) -> DataFrame:
    m_t = raw.schema["_m"].dataType
    return _np_result_df(raw.sparkSession, [("a", m_t, pairs[0]), ("b", m_t, pairs[1])])


def _shared_pairs_dist(raw: DataFrame, min_shared: int) -> DataFrame:
    from .materialize import materialize

    cp = materialize(raw.distinct())
    x, y = cp.alias("x"), cp.alias("y")
    return (
        x.join(
            y,
            (F.col("x._i") == F.col("y._i"))
            & (F.col("x._m") < F.col("y._m")),
        )
        .groupBy(F.col("x._m").alias("a"), F.col("y._m").alias("b"))
        .agg(F.count(F.lit(1)).alias("_k"))
        .where(F.col("_k") >= min_shared)
        .select("a", "b")
    )


def pagerank_py(
    edges,
    *,
    iters: int = 8,
    damping: "tuple[int, int]" = (85, 100),
    rank_bits: int = 40,
    seeds=None,
    max_edges: int = 100_000,
) -> "dict[object, int]":
    """Exact driver-side replica of :func:`pagerank`'s integer
    fixpoint for BOUNDED graphs — returns ``{node: rank_q}``
    bit-identical to the distributed operator (parity-pinned in
    ``tests/test_graph_ops.py``).

    The curation queries rank a **|sources|-bounded** affinity graph
    (tens of nodes at ANY corpus size — the strata table, not the
    corpus) and already ``collect()`` the resulting rank dict; running
    the walk itself on the collected edge list deletes ``iters``
    join+aggregate rounds of per-iteration fixed overhead from the
    plan (measured ~3 s at sf0.1 for a 20-node graph) while keeping
    the DuckDB oracle's unrolled-level replay valid unchanged. The
    ``max_edges`` guard keeps the helper honest: anything larger
    belongs on the distributed operator (raise, never silently chew
    driver memory).

    Semantics replicated exactly: duplicate unweighted edges count
    once / duplicate weighted pairs sum; contributions are the trunc
    divisions ``rank // outdeg`` (unweighted) or ``(rank·w) //
    out_strength`` per deduplicated pair; dangling mass redistributes
    uniformly (or over the seed set); damping, teleport and the
    per-iteration floors match the Spark/DuckDB arithmetic
    line-for-line (Python ``//`` on non-negative ints == trunc)."""
    num, den = damping
    q = rank_bits
    pairs: dict = {}
    weighted = False
    unweighted = False
    n_in = 0
    for t in edges:
        n_in += 1
        if n_in > max_edges:
            raise ValueError(
                f"pagerank_py: more than {max_edges} edges — this "
                "helper is for bounded (strata-sized) graphs; use the "
                "distributed pagerank operator"
            )
        if len(t) == 3:
            s, d, w = t
            weighted = True
            w = int(w)
            if w <= 0:
                raise ValueError(
                    f"pagerank_py: weights must be positive integers, got {w}"
                )
            pairs[(s, d)] = pairs.get((s, d), 0) + w
        else:
            s, d = t
            unweighted = True
            pairs[(s, d)] = 1
        if weighted and unweighted:
            # a mixed list has no distributed counterpart (the Spark
            # operator is all-weighted or all-unweighted) and would
            # silently clobber summed weights with 1s here — refuse
            raise ValueError(
                "pagerank_py: mixed 2- and 3-tuple edges — pass an "
                "all-weighted or all-unweighted edge list"
            )
    if not pairs:
        raise ValueError("pagerank_py: empty graph")
    nodes = set()
    out: dict = {}
    for (s, d), w in pairs.items():
        nodes.add(s)
        nodes.add(d)
        out[s] = out.get(s, 0) + w
    seeded = seeds is not None
    if seeded:
        seedset = {s for s in seeds if s in nodes}
        if not seedset:
            raise ValueError("pagerank_py: none of the seed ids occur in the graph")
        n_seeds = len(seedset)
    teleport = ((den - num) * (1 << q)) // den
    rank = {
        n: (1 << q) if (not seeded or n in seedset) else 0 for n in nodes
    }
    dangling = [n for n in nodes if n not in out]
    n_nodes = len(nodes)
    for _ in range(iters):
        in_q = {n: 0 for n in nodes}
        for (s, d), w in pairs.items():
            in_q[d] += (rank[s] * w) // out[s] if weighted else rank[s] // out[s]
        dang_q = sum(rank[n] for n in dangling)
        nxt = {}
        for n in nodes:
            if dangling:
                share = (
                    (dang_q // n_seeds if (seeded and n in seedset) else 0)
                    if seeded
                    else dang_q // n_nodes
                )
                new_rank = (num * (in_q[n] + share)) // den
            else:
                new_rank = (num * in_q[n]) // den
            tele = teleport if (not seeded or n in seedset) else 0
            nxt[n] = tele + new_rank
        rank = nxt
    return rank
