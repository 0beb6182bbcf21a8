"""The composed streaming curation funnel (r13 verdict item 1): the
v10 corpus-curation stack operating in its 100 TB mode — continuous
ingest.

Every screen that is per-document given LOADED models runs at ingest
(``operators.curation.curation_screen``: trained LID, Gopher gate,
trained quality classifier, token count), together with the
per-document dedup identity and the mergeable per-source KMV sketch
delta. The corpus-global selection (exact-dedup keep-first,
perplexity terciles, source-affinity PageRank, capacity waterfall,
per-source thresholds) runs as the periodic FINALIZE batch job over
the accumulated state — by definition it needs the whole corpus, and
because the screen/identity/sketch stages are exactly decomposable
(map-side rows, associative MIN, mergeable top-k), finalize over
stream-accumulated state is bit-identical to the one-shot batch
stack (parity pinned in ``tests/test_streaming_funnel.py``).

Models are LOADED from the registry (``operators.models``), never
fit in-stream — the train-offline / score-online production shape:
a scoring job must not depend on the fitting session, and a
micro-batch must never see model drift mid-run.

Exactly-once: each micro-batch commits three tables through
``streaming.events.drain_fenced``. Flags/identity are doc-keyed
``upsert_epoch`` (O(delta) writes, cross-run re-sends overwrite); the
KMV sketch is a bounded |sources|·k-row table committed whole
(``commit_epoch``) — rewriting it per batch IS the O(delta) cost
model, because the sketch never grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.curation import (
    curation_finalize,
    curation_screen,
    doc_identity,
    kmv_merge_by,
    source_token_sketch,
)
from .events import drain_fenced


def curation_funnel_stream_into_store(
    stream: DataFrame,
    store,
    registry_store,
    checkpoint_dir: str,
    *,
    registry_table: str = "models",
    lid_name: str = "lid",
    quality_name: str = "quality",
    flags_table: str = "funnel_flags",
    fps_table: str = "funnel_fps",
    kmv_table: str = "funnel_kmv",
    k: int = 64,
) -> None:
    """Drain a document stream through the full curation screen into
    the store (``availableNow``-friendly: the S3-staging ingest
    shape). Loads both models from ``registry_store`` ONCE at start —
    a missing model raises before the stream starts, never mid-batch.

    Per micro-batch, three exactly-once commits:

    - ``flags_table``: per-doc screen verdicts (doc-keyed upsert —
      new docs append O(delta) segments, bounded by the segment
      budget; a re-sent doc overwrites its row);
    - ``fps_table``: per-doc dedup identity (same contract);
    - ``kmv_table``: the merged per-source KMV sketch (bounded
      |sources|·k rows — read, merge with the batch delta, commit).
    """
    from ..operators.models import load_models

    lid_models = load_models(registry_store, registry_table, lid_name)
    qmodel = load_models(registry_store, registry_table, quality_name)[0]

    keyed = {
        flags_table: lambda batch: curation_screen(batch, lid_models, qmodel),
        fps_table: doc_identity,
    }

    def step(batch_df: DataFrame, epoch_id: int, scope: str, pending: list[str]) -> None:
        batch = batch_df.localCheckpoint()
        for tbl in pending:
            if tbl in keyed:
                store.upsert_epoch(
                    tbl, keyed[tbl](batch), ["doc_id"], epoch_id, scope=scope
                )
                continue
            sketch = source_token_sketch(batch, k=k)
            if store.exists(kmv_table):
                sketch = kmv_merge_by(
                    [store.read(kmv_table), sketch], "source", k=k
                )
            store.commit_epoch(kmv_table, sketch, epoch_id, scope=scope)

    drain_fenced(
        stream, store, [flags_table, fps_table, kmv_table], checkpoint_dir, step
    )


def curation_funnel_finalize(
    spark: SparkSession,
    store,
    docs: DataFrame,
    *,
    flags_table: str = "funnel_flags",
    fps_table: str = "funnel_fps",
    kmv_table: str = "funnel_kmv",
    k: int = 64,
) -> DataFrame:
    """The periodic selection job over the funnel's accumulated
    state: Kneser-Ney perplexity over the corpus at rest (``docs`` —
    the staged files the stream drained, which ARE the corpus; the
    LM is corpus-global so it belongs here, not at ingest), then
    ``operators.curation.curation_finalize`` over the three funnel
    tables. Output: the per-source funnel report, bit-identical to
    batch ``corpus_curation_v10`` over the same corpus."""
    from ..queries.textops import _kn_doc_scores_df

    return curation_finalize(
        spark,
        store.read(flags_table),
        store.read(fps_table),
        _kn_doc_scores_df(docs),
        store.read(kmv_table),
        k=k,
    )
