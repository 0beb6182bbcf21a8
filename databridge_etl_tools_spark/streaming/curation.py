"""Streaming corpus curation: the training-data quality/scrub/dedup
pipeline as an incremental job.

Because every curation stage is a pure Column expression
(``gopher_rules``, ``pii_scrub``, ``fingerprint``), the SAME plan
fragment runs over a batch DataFrame and a Structured Streaming
source unchanged — this module just composes them with streaming
dedup state and the exactly-once store sink. At scale this is the
S3-staging ingest shape: drain newly landed document files with
``availableNow``, gate/scrub/dedup, and commit each micro-batch
atomically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import textstats as TS
from ..operators.pii import pii_scrub

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """File-source document stream (one staged parquet file ≈ one
    micro-batch under availableNow)."""
    return spark.readStream.schema(schema or DOC_SCHEMA).parquet(path)


def curate_docs(df: DataFrame, min_words: int = 10, min_required_hits: int = 1) -> DataFrame:
    """The curation plan fragment: Gopher quality gate → PII scrub →
    content fingerprint. Batch/stream agnostic — pure column
    expressions, no shuffle, runs at scan speed in either mode.
    Output: doc_id, lang, source, curated text (scrubbed), fp.
    ``min_required_hits`` defaults to 1 here (vs the paper's 2): the
    synthetic corpus vocabulary carries few English function words,
    and the pipeline demo needs survivors — production keeps 2.
    """
    g = TS.gopher_rules(
        "text", min_words=min_words, min_required_hits=min_required_hits
    )
    s = pii_scrub("text")
    return (
        df.withColumn("_g", g)
        .where(F.col("_g.passes"))
        .select(
            "doc_id",
            "lang",
            "source",
            s["redacted"].alias("text"),
            # fp over the ORIGINAL text (select computes from the
            # input row): dedup identity is scrub-independent
            TS.fingerprint("text").alias("fp"),
        )
    )


def curate_stream_into_store(
    stream: DataFrame,
    store,
    table: str,
    checkpoint_dir: str,
    min_words: int = 10,
) -> None:
    """Incremental corpus curation with exactly-once commits: each
    micro-batch is gated/scrubbed, streaming-deduped on the content
    fingerprint (``dropDuplicates`` keeps the first arrival; state is
    fingerprint-keyed — bound it with
    ``withWatermark``/``dropDuplicatesWithinWatermark`` when the
    source carries event time; a drain-style availableNow ingest
    holds state only for the run), and committed to the TableStore
    under the idempotent epoch contract (replayed batches are
    skipped, crash-safe). Cross-batch duplicates are additionally
    fenced by the fp-keyed upsert itself: a fingerprint seen in a
    later run overwrites rather than duplicates."""
    from .events import stream_upsert_into_store

    curated = curate_docs(stream, min_words=min_words).dropDuplicates(["fp"])
    stream_upsert_into_store(
        curated, store, table, keys=["fp"], checkpoint_dir=checkpoint_dir
    )


def dedupe_segments_stream(
    stream: DataFrame,
    *,
    size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming segment-level exact dedup (the incremental form of
    ``operators.chunking.dedup_segments``): incoming documents are cut
    into disjoint ``size``-token segments map-side (stateless —
    chunking is pure column expressions, identical batch or stream),
    then first-arrival-deduped on the segment fingerprint with
    fingerprint-keyed state. The batch operator's total order
    (doc_id, start) becomes arrival order here — same survivor SET,
    possibly different representative per fingerprint, exactly the
    ``dropDuplicates`` contract the whole-doc streaming dedup uses.
    State is fingerprint-keyed and unbounded under a continuous run —
    drain-style ``availableNow`` ingests hold it per run; add
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` when the
    source carries event time and late re-sends are bounded."""
    from ..operators.chunking import chunk_documents

    segs = chunk_documents(
        stream, text_col=text_col, id_col=id_col, size=size, stride=size
    ).withColumn("seg_fp", F.md5("chunk_text"))
    return segs.dropDuplicates(["seg_fp"])


def segment_stream_into_store(
    stream: DataFrame,
    store,
    table: str,
    checkpoint_dir: str,
    size: int = 4,
) -> None:
    """Incremental segment dedup with exactly-once commits: surviving
    segments land in the store under the idempotent epoch contract,
    keyed on the segment fingerprint — a fingerprint re-seen in a
    later run overwrites its row instead of duplicating it, so the
    store stays a distinct-segment table across restarts."""
    from .events import stream_upsert_into_store

    deduped = dedupe_segments_stream(stream, size=size)
    stream_upsert_into_store(
        deduped, store, table, keys=["seg_fp"], checkpoint_dir=checkpoint_dir
    )


def score_stream(
    stream: DataFrame,
    model: dict,
    *,
    d: int | None = None,
    threshold: float | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Apply a TRAINED quality classifier to a document stream — the
    incremental form of ``corpus_curation_v6``'s model gate: fit the
    model once in batch (``quality_classifier_fit`` — the bounded
    driver fixpoint cannot run inside a micro-batch plan and doesn't
    need to: production pipelines train offline, score online), then
    score every arriving document with the pure integer-fold column
    expression. Featurizer and fold are map-side only, so the SAME
    fragment is batch/stream agnostic — availableNow drain == batch
    scoring, pinned in tests. ``threshold`` adds a boolean ``passes``
    gate column; None keeps scores only."""
    from ..operators.quality import hashed_tf_features, quality_prediction_col

    n_dims = d if d is not None else len(model["b_int"])
    feats = hashed_tf_features(stream, text_col, d=n_dims)
    out = feats.withColumn("score", quality_prediction_col(model))
    if threshold is not None:
        out = out.withColumn("passes", F.col("score") >= F.lit(threshold))
    return out.drop("feat", "_n")


def minhash_stream_into_store(
    stream: DataFrame,
    store,
    table: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> None:
    """Streaming incremental MinHash dedup (r11 verdict stretch):
    the signature store grows FROM A STREAM with the same
    exactly-once epochs as the batch pipeline — each micro-batch
    runs ``plans.pipelines.incremental_dedup_pipeline`` (screen
    against the persisted store, append only the survivors'
    signatures, commit data + epoch watermark in one atomic manifest
    flip). Replays are fenced by ``events.drain_fenced`` before any
    screening work, so signatures are never double-inserted and
    ``availableNow`` over a staging directory equals the batch
    pipeline run file-for-file (pinned in
    ``tests/test_streaming_dedup.py``). Under a FRESH checkpoint the
    re-screen of already-stored docs is idempotent by content:
    dup-of-store rows are dropped, nothing re-inserts.

    Near-dup state lives in the STORE (k int64 per kept doc), not in
    streaming state — restarts and late re-sends are fenced by
    content, not by watermarks, which is what lets the dedup stream
    run unbounded."""
    from ..plans.pipelines import incremental_dedup_pipeline
    from .events import drain_fenced

    def step(batch: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        incremental_dedup_pipeline(
            store,
            table,
            batch,
            id_col,
            text_col,
            epoch_id=epoch_id,
            epoch_scope=scope,
            n=n,
            k=k,
            bands=bands,
            threshold=threshold,
        )

    drain_fenced(stream, store, [table], checkpoint_dir, step)


def lid_score_stream(
    stream: DataFrame,
    models: "list[dict]",
    *,
    text_col: str = "text",
    margin_threshold: float | None = None,
) -> DataFrame:
    """Apply a TRAINED language-ID classifier to a document stream —
    train offline (``operators.lid.lid_fit``, typically persisted and
    reloaded via ``operators.models``), predict online: the five
    integer score folds + deterministic argmax are map-side column
    expressions over a bounded text prefix, so the SAME fragment is
    batch/stream agnostic (availableNow drain == batch prediction,
    pinned). ``margin_threshold`` adds the fastText-style abstain
    gate: a boolean ``confident`` from the top-two score margin.
    Output: input columns + ``pred_lang`` (+ ``confident``).

    Row-preserving: documents too short to carry a trigram (text NULL
    or under ``NGRAM`` chars — which ``char_trigram_features`` drops,
    it has nothing to hash) are NOT dropped from the scored stream;
    they come through with ``pred_lang`` NULL and ``confident`` false,
    so downstream row accounting balances and the abstain/quarantine
    path sees them instead of silently losing them."""
    from ..operators.lid import (
        LANGS,
        char_trigram_features,
        lid_predict_col,
        lid_score_cols,
        trigram_keep_cond,
    )

    cols = [f"_s_{lg}" for lg in LANGS]
    feats = char_trigram_features(stream, text_col)
    scored = feats.select(
        *[c for c in stream.columns], *lid_score_cols(models)
    )
    out = scored.withColumn("pred_lang", lid_predict_col(cols))
    # exact complement of the featurizer's keep rule (single source
    # of truth — trigram_keep_cond; NULL text coalesces to kept-false)
    short = stream.where(
        ~F.coalesce(trigram_keep_cond(text_col), F.lit(False))
    ).withColumn("pred_lang", F.lit(None).cast("string"))
    if margin_threshold is not None:
        arr = F.array_sort(F.array(*[F.col(c) for c in cols]))
        margin = F.element_at(arr, len(LANGS)) - F.element_at(
            arr, len(LANGS) - 1
        )
        out = out.withColumn(
            "confident", margin >= F.lit(float(margin_threshold))
        )
        short = short.withColumn("confident", F.lit(False))
    return out.drop(*cols).unionByName(short)


def decontam_stream_screen(
    stream: DataFrame,
    store,
    gram_table: str,
    verdict_table: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
) -> None:
    """Streaming decontamination: screen arriving documents against
    the PERSISTED benchmark n-gram store at ingest time — the fence
    production pipelines put in front of the training corpus so a
    benchmark leak never lands at rest. Each micro-batch runs the
    batch screen (``operators.dedup.decontaminate_vs_store`` — the
    store side is static within a run) and commits its per-document
    verdicts exactly-once on ``doc`` through ``events.drain_fenced``.
    The gram store itself is read-only here — only
    ``plans.pipelines.register_benchmark_epoch`` writes it.

    O(delta) commit discipline: the verdict ledger grows with the
    corpus, so the common path (all-new doc ids) appends ONLY the
    batch's verdict segment (``TableStore.append_epoch``), never a
    ledger rewrite. Re-screened documents whose verdict CHANGED (a
    file re-send after the gram store grew between runs) take the
    rare keyed-rewrite fallback so ``doc`` stays unique; an identical
    re-send contributes no delta at all."""
    from ..operators.dedup import decontaminate_vs_store
    from .events import drain_fenced

    grams = store.read(gram_table)

    def step(batch: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        verdicts = decontaminate_vs_store(batch, grams, text_col, id_col, n=n)
        store.upsert_epoch(verdict_table, verdicts, ["doc"], epoch_id, scope=scope)

    drain_fenced(stream, store, [verdict_table], checkpoint_dir, step)


def lid_stream_into_store(
    stream: DataFrame,
    models: "list[dict]",
    store,
    scored_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    *,
    margin_threshold: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming LID scoring with abstain TRIAGE: confident
    predictions land in ``scored_table``; low-margin and sub-trigram
    documents land in ``quarantine_table`` instead of being dropped —
    the K7 error-row pattern (don't guess, don't lose: stage the
    abstained rows for human or better-model triage, exactly what
    production pipelines do with fastText low-confidence scores).

    Each micro-batch commits BOTH tables exactly-once through
    ``events.drain_fenced``, and the doc-keyed upsert makes any
    cross-run re-send overwrite rather than duplicate. The split
    stays DISJOINT across runs: a re-sent document whose confidence
    FLIPPED (fuller text, better model) is evicted from its old side
    in the same epoch it lands on the new side, so scored ∪
    quarantine never double-counts a doc.
    ``availableNow`` drain == batch split, pinned in
    ``tests/test_model_registry.py``."""
    from ..operators.merge import upsert
    from .events import drain_fenced

    scored = lid_score_stream(
        stream, models, text_col=text_col, margin_threshold=margin_threshold
    )

    def step(batch_df: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        batch = batch_df.localCheckpoint()
        confident = batch.filter(F.col("confident"))
        abstained = batch.filter(~F.col("confident"))
        split = {
            scored_table: (confident, abstained),
            quarantine_table: (abstained, confident),
        }
        for tbl in pending:
            part, other = split[tbl]
            if not store.exists(tbl):
                store.upsert_epoch(tbl, part, [id_col], epoch_id, scope=scope)
                continue
            existing = store.read(tbl)
            # confidence-flip eviction: rows of THIS table whose doc
            # re-arrived on the OTHER side leave here in the same
            # epoch (rare; forces the keyed-rewrite path)
            flipped = existing.join(
                other.select(id_col), [id_col], "left_semi"
            )
            if flipped.isEmpty():
                store.upsert_epoch(tbl, part, [id_col], epoch_id, scope=scope)
            else:
                kept = existing.join(
                    other.select(id_col), [id_col], "left_anti"
                )
                merged = upsert(kept, part.select(*existing.columns), [id_col])
                store.commit_epoch(tbl, merged, epoch_id, scope=scope)

    drain_fenced(scored, store, [scored_table, quarantine_table], checkpoint_dir, step)


def requalify_quarantine(
    store,
    models: "list[dict]",
    scored_table: str,
    quarantine_table: str,
    *,
    epoch_id: int,
    scope: str = "requalify",
    margin_threshold: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Drain the LID abstain quarantine with a BETTER model (r13
    verdict item 7): re-score every quarantined document (typically
    with a newer registry version than the one that abstained),
    promote the now-confident ones into ``scored_table``, and keep
    the still-abstained rows quarantined with their refreshed
    prediction — so the quarantine is a triage queue with a consumer,
    not a write-only graveyard.

    Exactly-once across the two tables without a checkpoint: both
    commits fence on the caller-supplied ``(scope, epoch_id)`` — one
    requalification pass = one epoch. Crash recovery is
    MODEL-INDEPENDENT: the quarantine commit keeps only rows NOT
    already present in the scored table (an id-anti-join against the
    post-promotion scored state), so a re-run of a half-committed
    pass preserves disjointness even if the re-run scores with a
    different model or threshold — a doc promoted by the crashed
    attempt can never reappear in quarantine. Returns honest stats:
    ``promoted``/``remaining`` reflect what this call actually
    COMMITTED (a fully-fenced replay reports ``promoted: 0`` and the
    stored remaining count, plus ``replayed: True``)."""
    from ..operators.merge import upsert

    q = store.read(quarantine_table)
    scored_fenced = store.epoch_seen(scored_table, epoch_id, scope)
    quar_fenced = store.epoch_seen(quarantine_table, epoch_id, scope)
    if scored_fenced and quar_fenced:
        return {
            "promoted": 0,
            "remaining": int(q.count()),
            "replayed": True,
        }
    inputs = q.drop("pred_lang", "confident")
    rescored = lid_score_stream(
        inputs, models, text_col=text_col, margin_threshold=margin_threshold
    ).localCheckpoint()
    promoted = rescored.filter(F.col("confident"))
    n_promoted = promoted.count()
    if not scored_fenced and n_promoted:
        if store.exists(scored_table):
            existing = store.read(scored_table)
            merged = upsert(
                existing, promoted.select(*existing.columns), [id_col]
            )
            store.commit_epoch(scored_table, merged, epoch_id, scope=scope)
        else:
            store.commit_epoch(scored_table, promoted, epoch_id, scope=scope)
    remaining = rescored.filter(~F.col("confident")).select(*q.columns)
    if store.exists(scored_table):
        # the disjointness fence: whatever the scored table holds NOW
        # (this pass's promotions AND any crashed prior attempt's)
        # never stays quarantined
        remaining = remaining.join(
            store.read(scored_table).select(id_col), [id_col], "left_anti"
        )
    remaining = remaining.localCheckpoint()
    n_remaining = remaining.count()
    if not quar_fenced:
        store.commit_epoch(
            quarantine_table, remaining, epoch_id, scope=scope
        )
    return {
        # committed-by-THIS-call accounting: a recovery run whose
        # scored commit was fenced reports 0 promotions (the crashed
        # attempt's commit already carried them)
        "promoted": int(n_promoted) if not scored_fenced else 0,
        "remaining": int(n_remaining),
        "replayed": False,
    }
