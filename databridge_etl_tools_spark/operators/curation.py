"""Corpus-curation funnel as composable SCREEN / FINALIZE stages.

The v10 curation stack (``queries.quality``) decomposes naturally
into the two jobs a 100 TB continuous-ingest pipeline actually runs:

- **SCREEN** (per document, model-driven, map-side): trained-LID
  prediction, Gopher quality gate, trained quality-classifier score,
  content fingerprint, token count. Everything here is decidable per
  document GIVEN loaded models, so it runs identically over a batch
  frame or a micro-batch — and is computed exactly once per document,
  at ingest.
- **FINALIZE** (corpus-global, periodic batch): exact-dedup
  keep-first (min doc_id per fingerprint — a global MIN, so it
  resolves over the accumulated identity table, not at ingest),
  per-language perplexity terciles (a global order statistic),
  source-affinity PageRank over mergeable per-source KMV sketches,
  capacity-waterfall allocation, and the per-source selection
  thresholds. These need the whole accumulated state by definition;
  production runs them as the periodic selection job over the corpus
  at rest.

The split is exact, not approximate: screen outputs are pure per-row
functions of (document, models), identity rows are (doc_id, fp)
pairs whose global min is associative, and the per-source KMV sketch
is mergeable (top-k of a union == top-k of the union of top-ks) — so
``screen(wave_1) ∪ screen(wave_2)`` followed by one finalize is
bit-identical to the one-shot batch stack (pinned by the
``corpus_curation_v10_incremental`` oracle query and the streaming
funnel parity tests).

Reference parity: the reference's closest shape is the staged
extract → upsert → delete-stale incrementality of its ETL loads
(SURVEY §2.4/§2.8); the model-gated funnel itself is
beyond-reference LLM-pipeline capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import route
from . import textstats as TS
from .materialize import materialize

#: quality-classifier feature width (queries.quality fits with the
#: matching D; the lambda lives with the fit, not the screen)
QD = 16
_Q50F = float(1 << 50)


def curation_screen(
    docs: DataFrame,
    lid_models: "list[dict]",
    qmodel: dict,
    *,
    planted: DataFrame | None = None,
    qfeats: DataFrame | None = None,
    d: int = 16,
    cap: int = 240,
    qd: int = QD,
    min_words: int = 10,
    min_required_hits: int = 1,
) -> DataFrame:
    """Per-document screen flags from LOADED models — the ingest-time
    half of the v10 funnel. Returns one row per document that carries
    at least one LID trigram: ``(doc_id, source, n, pred_lang, gp,
    sc)`` where ``n`` is the token count, ``gp`` the Gopher gate,
    ``sc`` the trained-classifier verdict. All map-side (featurize +
    integer score folds + argmax); the single exchange is the
    doc-keyed join between the two featurizer outputs.

    ``planted``/``qfeats`` accept pre-materialized featurizer frames
    (the batch fit-and-score path shares one featurize pass between
    fit and scoring — see ``corpus_curation_v9``); when None (the
    score-online path: models came from the registry) they are
    computed here."""
    from .lid import LANGS, char_trigram_features, lid_predict_col, lid_score_cols, plant_markers
    from .quality import hashed_tf_features, quality_pq_col

    if planted is None:
        planted = materialize(
            char_trigram_features(plant_markers(docs), d=d, cap=cap)
        )
    if qfeats is None:
        qfeats = materialize(
            hashed_tf_features(
                docs,
                d=qd,
                gopher=dict(
                    min_words=min_words,
                    min_required_hits=min_required_hits,
                ),
            ).drop("text")
        )
    # pred_tbl stays LAZY: it is map-only work over the already-
    # materialized planted frame with exactly one consumer (the join
    # below) — checkpointing it was a full extra eager job per screen
    # for zero reuse (r15: the join reads it once either way).
    pred_tbl = (
        planted.select("doc_id", *lid_score_cols(lid_models))
        .withColumn(
            "pred_lang", lid_predict_col([f"_s_{lg}" for lg in LANGS])
        )
        .select("doc_id", "pred_lang")
    )
    if "gp" in qfeats.columns:
        # gate precomputed in the featurize pass (hashed_tf_features
        # gopher=...) — the checkpointed frame no longer carries text
        gcol = F.col("gp")
    else:
        gcol = TS.gopher_rules(
            "text",
            min_words=min_words,
            min_required_hits=min_required_hits,
        )["passes"].cast("int")
    ic = float(qmodel["intercept"])
    pred = F.lit(ic) + quality_pq_col(qmodel).cast("double") / F.lit(_Q50F)
    base = qfeats.select(
        "doc_id",
        "source",
        F.col("_n").alias("n"),
        gcol.alias("gp"),
        (pred >= F.lit(0.5)).cast("int").alias("sc"),
    )
    return base.join(pred_tbl, "doc_id")


def doc_identity(docs: DataFrame) -> DataFrame:
    """Per-document dedup identity rows ``(doc_id, fp, source)`` for
    EVERY ingested document (screen-independent: dedup identity must
    cover documents the LID featurizer drops). Pure map work; the
    keep-first winner (global min doc_id per fp) is resolved at
    finalize, because MIN is associative over waves while
    first-arrival is not arrival-order-safe."""
    return docs.select(
        "doc_id", TS.fingerprint("text").alias("fp"), "source"
    )


def source_token_sketch(docs: DataFrame, *, k: int = 64) -> DataFrame:
    """Per-source KMV sketch ``(source, hv)`` over distinct tokens —
    the mergeable sufficient statistic for the source-affinity graph
    (``sketch.kmv_pair_overlap``). k·|sources| rows, bounded."""
    from .sketch import kmv_minhashes_by

    tok = docs.select(
        "source", F.explode(TS.tokens(F.col("text"))).alias("token")
    )
    return kmv_minhashes_by(tok, "source", "token", k=k)


def kmv_merge_by(
    sketches: "list[DataFrame]", key: str, *, k: int = 64
) -> DataFrame:
    """Merge GROUPED KMV sketches: per group, the k smallest distinct
    hashes of the union — exactly the sketch of the concatenated
    inputs (each input's global top-k contains every hash that can
    survive into the union's top-k, so merging truncated sketches is
    lossless). The grouped form of ``sketch.kmv_merge``; |groups|·k
    rows in, |groups|·k out."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    w = Window.partitionBy(key).orderBy("hv")
    return (
        out.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def curation_finalize(
    spark: SparkSession,
    flags: DataFrame,
    fps: DataFrame,
    kn: DataFrame,
    sketch: DataFrame,
    *,
    k: int = 64,
    iters: int = 8,
    rounds: int = 8,
) -> DataFrame:
    """The corpus-global half of the v10 funnel — the periodic
    selection job over accumulated screen state. Inputs: ``flags``
    from :func:`curation_screen` (accumulated), ``fps`` from
    :func:`doc_identity` (accumulated), ``kn`` per-doc Kneser-Ney
    scores over the corpus at rest
    (``queries.textops._kn_doc_scores_df``), ``sketch`` the merged
    per-source KMV sketch. Output: the per-source funnel report
    (raw → unique → gopher → classifier → survivors, rank, waterfall
    alloc, kept docs/tokens) — bit-identical to the one-shot
    ``corpus_curation_v10`` stack by construction (same operators,
    same integer arithmetic; parity pinned in
    ``tests/test_streaming_funnel.py``).

    Scale: one fp-keyed MIN aggregate, one doc-keyed join chain, the
    bucketed-selection order statistics, and driver arithmetic only
    on |sources|-bounded tables (affinity walk via ``pagerank_py``
    over the collected |sources|²-bounded edge list, waterfall quotas,
    selection thresholds)."""
    from .graph import pagerank_py
    from .orderstats import equi_depth_boundaries_by, kth_smallest_by
    from .sampling import capped_weighted_quotas
    from .sketch import kmv_pair_overlap
    from .util import in_parallel

    keepers = (
        fps.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("u"))
    )

    # The three setup chains below are INDEPENDENT — the perplexity
    # tercile descent (knd join + grouped selection), the bounded
    # |sources|²·k pair-overlap collect, and the source inventory —
    # so they run overlapped (guide §2.6): same jobs, concurrent
    # submission, critical path = the tercile descent.
    def _chain_px():
        knd = materialize(
            kn.join(flags.select("doc_id", "pred_lang"), "doc_id")
            .selectExpr(
                "doc_id",
                "pred_lang",
                "CAST(CAST(-lq_sum AS DECIMAL(38,0)) * 1048576"
                " DIV n_bigrams AS BIGINT) AS ppl_q",
            )
        )
        bnds = equi_depth_boundaries_by(knd, "pred_lang", "ppl_q", 3)
        bounds = route.driver_frame(
            spark,
            [(grp[0], int(bs[1])) for grp, bs in bnds.items()],
            "pred_lang string, _b2 bigint",
        )
        return knd.join(F.broadcast(bounds), "pred_lang").select(
            "doc_id",
            (F.col("ppl_q") <= F.col("_b2")).cast("int").alias("px"),
        )

    def _chain_ovl():
        ovl = (
            kmv_pair_overlap(sketch, "source", k=k)
            .filter(F.col("ovl") > 0)
            .select("ga", "gb", "ovl")
        )
        return ovl.collect()  # bounded: |sources|^2 pairs

    px_tbl, ovl_rows, src_rows = in_parallel(
        _chain_px,
        _chain_ovl,
        lambda: fps.select("source").distinct().collect(),
    )
    full = materialize(
        flags.join(keepers, "doc_id", "left")
        .join(px_tbl, "doc_id", "left")
        .withColumn("u", F.coalesce(F.col("u"), F.lit(0)))
        .withColumn("px", F.coalesce(F.col("px"), F.lit(0)))
        .withColumn(
            "surv",
            F.col("u") * F.col("gp") * F.col("sc") * F.col("px"),
        )
        .drop("pred_lang")
    )
    # bounded driver-side integer walk — see corpus_curation_v8.
    # Nodes are the raw source STRINGS (pagerank_py keys by any
    # hashable; rank values depend only on topology, so the DuckDB
    # oracle's integer-id replay stays bit-identical). An EMPTY
    # affinity graph (single source, or no token overlap between
    # sources yet — the mid-ingest finalize case) degrades to
    # all-zero weights, which is exactly what the batch stack gives
    # edgeless sources: the waterfall allocates nothing without an
    # affinity signal, it never crashes the selection job.
    elist = []
    for r in ovl_rows:
        a, b, w = r["ga"], r["gb"], int(r["ovl"])
        elist += [(a, b, w), (b, a, w)]
    ranks = pagerank_py(elist, iters=iters) if elist else {}
    sources = sorted(r["source"] for r in src_rows)
    # ONE fused job returns the per-source survivor counts AND the
    # doc_id bounds the selection descent needs — the count was a
    # standalone job and the descent ran its own (min, max, count)
    # stats pass over the same rows (kth_smallest_by's stats= fast
    # path exists for exactly this fusion).
    surv_stats = {
        r["source"]: (int(r["lo"]), int(r["hi"]), int(r["n"]))
        for r in full.filter(F.col("surv") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    }
    n_surv = {s: t[2] for s, t in surv_stats.items()}
    weights = {s: ranks.get(s, 0) for s in sources}
    caps = {s: n_surv.get(s, 0) for s in sources}
    budget = sum(caps.values()) // 2
    alloc = capped_weighted_quotas(weights, caps, budget, rounds=rounds)
    surv = full.filter(F.col("surv") == 1)
    ranks_arg = {(s,): [alloc[s]] for s in sources if alloc[s] >= 1}
    thr = {}
    if ranks_arg:
        vals, _ = kth_smallest_by(
            surv.select("source", "doc_id"),
            "source",
            "doc_id",
            ranks_arg,
            stats={
                (s,): surv_stats[s] for s in sources if alloc[s] >= 1
            },
        )
        thr = {grp[0]: int(ks[alloc[grp[0]]]) for grp, ks in vals.items()}
    meta = route.driver_frame(
        spark,
        [(s, weights[s], alloc[s], thr.get(s)) for s in sources],
        "source string, rank_q long, alloc long, _thr long",
    )
    kept = (
        (F.col("surv") == 1)
        & F.col("_thr").isNotNull()
        & (F.col("doc_id") <= F.col("_thr"))
    ).cast("int")
    return (
        full.join(F.broadcast(meta), "source")
        .withColumn("kp", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("u").cast("bigint").alias("n_unique"),
            F.sum(F.col("u") * F.col("gp")).cast("bigint").alias("n_gopher"),
            F.sum(F.col("u") * F.col("gp") * F.col("sc"))
            .cast("bigint")
            .alias("n_classifier"),
            F.sum("surv").cast("bigint").alias("n_survivors"),
            F.max("rank_q").cast("bigint").alias("rank_q"),
            F.max("alloc").cast("bigint").alias("alloc"),
            F.sum("kp").cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kp") == 1, F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )
