"""Trained quality-classifier queries: fit, score, and curation v6.

The capstone composition the production corpus pipelines use
(GPT-3's WebText filter, CCNet, RefinedWeb): a *trained* linear
quality model over hashed text features gating what enters the
training set, layered on top of the rule heuristics. Everything —
the deterministic self-supervised labeled slice, the one-pass
integer moments, every Gaussian-elimination pivot, the integer score
fold — replays in the DuckDB oracle bit-for-bit (the r9/r10
promotion discipline: ``operators/intlin.py`` fixpoints unrolled
into CTE levels).

Reference parity: beyond-reference — the reference's quality gates
are per-cell scrub rules (``databridge_etl_tools/utils.py``); the
brief's training-data charter asks for the trained-model gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route
from ..operators.materialize import materialize
from ..registry import query, table
from .similarity import _ridge_row_renorm, _tdiv_sql
from .textops import _TOK

D = 16  # classifier feature width (see operators/quality.py)
LAM = 1

#: the one Gopher parameterization every curation gate in this module
#: uses (corpus adaptation of the published rules — see
#: operators.quality.labeled_slice). The classifier fit's positive
#: slice and the funnel's gp gate must agree on it by construction.
_GOPHER = dict(min_words=10, min_required_hits=1)


def _qfeats_gated(docs: DataFrame) -> DataFrame:
    """The shared materialized featurize frame for the curation
    family: hashed TF features + the Gopher gate ``gp`` computed in
    the SAME pass (from the in-flight token array — zero extra text
    splits), with ``text`` projected out before the checkpoint
    (guide §2.3: the stored frame is doc_id/source/lang/_n/gp/feat —
    no megabyte text column in the checkpoint, and no consumer ever
    re-derives the five-sub-rule gate from stored text)."""
    from ..operators.quality import hashed_tf_features

    return materialize(
        hashed_tf_features(docs, d=D, gopher=_GOPHER).drop("text")
    )
_Q20F = float(1 << 20)
_Q40 = 1 << 40
_Q50F = float(1 << 50)
_Q70F = float(1 << 70)
_JUNK = " qqjunk zzspam" * 8

#: Gopher-pass doc_ids (original text, min_words=10,
#: min_required_hits=1 — see operators/quality.labeled_slice: the
#: synthetic vocabulary has only one of the paper's required words,
#: so the published >= 2 would pass zero documents) — the positive-
#: class predicate, copied from the hash-green quality_gopher_rules
#: oracle with doc_id carried through.
_GPASS = f"""
    gst AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS n,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS sym
      FROM documents),
    gpass AS MATERIALIZED (
      SELECT doc_id FROM gst
      WHERE n >= 10 AND n <= 100000
        AND wl >= 3.0 AND wl <= 10.0
        AND n > 0 AND sym / CAST(n AS DOUBLE) <= 0.1
        AND len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
              / CAST(n AS DOUBLE) >= 0.8
        AND len(list_filter(['the','be','to','of','and','that','have','with'],
                w -> list_contains(list_transform(toks, t -> lower(t)), w)))
              >= 1)"""

#: token → feature-dim hash, shared by the fit and scoring CTEs
#: (= operators.quality.hashed_tf_features's md5 map).
_DIM = (
    f"CAST(CAST('0x'||substr(md5('qf:'||t),1,8) AS BIGINT) % {D} AS INTEGER)"
)


def _fit_ctes() -> str:
    """CTEs replaying ``quality_classifier_fit`` exactly: the labeled
    slice (planted-junk negatives ∪ Gopher-pass positives), sparse
    hashed-TF quantized features, DENSIFIED integer sufficient
    statistics (a zero feature column must still produce its matrix
    row — the ridge diagonal keeps it invertible and its coefficient
    lands on 0 identically in ``gauss_solve_fixed``), all ``D−1``
    fraction-free elimination pivots + per-row renormalizations, the
    ``D`` back-substitution levels, intercept, and moments RMSE —
    ``intlin.gauss_solve_fixed`` bit-for-bit (same unroll as
    ``queries/similarity.py::_ridge_oracle``)."""
    parts = [f"""{_GPASS},
    slice AS (
      SELECT doc_id, text || '{_JUNK}' AS text, 0 AS y
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT d.doc_id, d.text, 1 AS y
      FROM documents d JOIN gpass g USING (doc_id)
      WHERE d.doc_id % 7 <> 0),
    sfn AS MATERIALIZED (
      SELECT doc_id, y, toks, CAST(len(toks) AS BIGINT) AS n
      FROM (SELECT doc_id, y, {_TOK} AS toks FROM slice)
      WHERE len(toks) > 0),
    scnt AS (
      SELECT doc_id, pos, n, COUNT(*) AS c
      FROM (SELECT doc_id, n, {_DIM} AS pos
            FROM (SELECT doc_id, n, unnest(toks) AS t FROM sfn))
      GROUP BY 1, 2, 3),
    exf AS MATERIALIZED (
      SELECT doc_id AS vec_id, pos,
             CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) * {_Q20F})
                  AS HUGEINT) AS xi
      FROM scnt),
    cnt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM sfn),
    eyf AS MATERIALIZED (
      SELECT doc_id AS vec_id, CAST(y AS HUGEINT) * 1048576 AS yi FROM sfn),
    dd AS (SELECT CAST(unnest(range(0, {D})) AS INTEGER) AS pos),
    ys AS (SELECT CAST(SUM(yi) AS HUGEINT) AS sy,
                  CAST(SUM(yi * yi) AS HUGEINT) AS syy FROM eyf),
    sv AS MATERIALIZED (
      SELECT d.pos AS j, CAST(COALESCE(SUM(e.xi), 0) AS HUGEINT) AS s
      FROM dd d LEFT JOIN exf e ON e.pos = d.pos GROUP BY 1),
    gm0 AS (
      SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.xi * b.xi) AS HUGEINT) AS g
      FROM exf a JOIN exf b USING (vec_id) GROUP BY 1, 2),
    gm AS MATERIALIZED (
      SELECT di.pos AS i, dj.pos AS j, CAST(COALESCE(g.g, 0) AS HUGEINT) AS g
      FROM dd di CROSS JOIN dd dj
      LEFT JOIN gm0 g ON g.i = di.pos AND g.j = dj.pos),
    xty AS MATERIALIZED (
      SELECT d.pos AS j, CAST(COALESCE(x.v, 0) AS HUGEINT) AS v
      FROM dd d LEFT JOIN (
        SELECT e.pos AS j, SUM(e.xi * y.yi) AS v
        FROM exf e JOIN eyf y USING (vec_id) GROUP BY 1) x ON x.j = d.pos),
    scat AS MATERIALIZED (
      SELECT g.i, g.j, (SELECT n FROM cnt) * g.g - si.s * sj.s AS c
      FROM gm g JOIN sv si ON si.j = g.i JOIN sv sj ON sj.j = g.j),
    bv AS MATERIALIZED (
      SELECT x.j AS i,
             (SELECT n FROM cnt) * x.v - s.s * (SELECT sy FROM ys) AS val
      FROM xty x JOIN sv s ON s.j = x.j),
    aug AS (
      SELECT i, j, c + CASE WHEN i = j
                 THEN {LAM} * (SELECT n FROM cnt) * {_Q40}
                 ELSE 0 END AS val
      FROM scat
      UNION ALL
      SELECT i, {D} AS j, val FROM bv),{_ridge_row_renorm('aug', 'm0')}"""]
    for p in range(D - 1):
        parts.append(f"""
    raw{p} AS (
      SELECT m.i, m.j,
             m.val * (SELECT val FROM m{p} WHERE i = {p} AND j = {p})
             - rp.val * ip.val AS val
      FROM m{p} m
      JOIN (SELECT j, val FROM m{p} WHERE i = {p}) rp ON rp.j = m.j
      JOIN (SELECT i, val FROM m{p} WHERE j = {p}) ip ON ip.i = m.i
      WHERE m.i > {p}),{_ridge_row_renorm(f'raw{p}', f'upd{p}')},
    m{p + 1} AS MATERIALIZED (
      SELECT i, j, val FROM m{p} WHERE i <= {p}
      UNION ALL SELECT i, j, val FROM upd{p})""")
    fin = f"m{D - 1}"
    num = f"(SELECT val FROM {fin} WHERE i = {D - 1} AND j = {D}) * {1 << 30}"
    piv = f"(SELECT val FROM {fin} WHERE i = {D - 1} AND j = {D - 1})"
    parts.append(f"""
    bb{D - 1} AS (SELECT {D - 1} AS j, {_tdiv_sql(num, piv)} AS b)""")
    for i in range(D - 2, -1, -1):
        num = (
            f"((SELECT val FROM {fin} WHERE i = {i} AND j = {D}) * {1 << 30}"
            f" - (SELECT COALESCE(SUM(r.val * b.b), 0) FROM {fin} r"
            f"    JOIN bb{i + 1} b ON b.j = r.j WHERE r.i = {i} AND r.j > {i}))"
        )
        piv = f"(SELECT val FROM {fin} WHERE i = {i} AND j = {i})"
        parts.append(f"""
    bb{i} AS MATERIALIZED (
      SELECT * FROM bb{i + 1}
      UNION ALL SELECT {i} AS j, {_tdiv_sql(num, piv)} AS b)""")
    parts.append(f"""
    bt AS MATERIALIZED (SELECT j, b FROM bb0),
    sb AS (SELECT (SELECT SUM(s.s * b.b)
                   FROM sv s JOIN bt b ON b.j = s.j) AS v),
    icte AS (SELECT
      CAST((SELECT sy FROM ys) AS DOUBLE) / (SELECT n FROM cnt) / {_Q20F}
      - CAST((SELECT v FROM sb) AS DOUBLE) / (SELECT n FROM cnt) / {_Q50F}
        AS ic),
    zc AS (SELECT r.i AS j,
                  {_tdiv_sql('SUM(r.c * b.b)', str(1 << 30))} AS z
           FROM scat r JOIN bt b ON b.j = r.j GROUP BY r.i),
    rmse AS (SELECT
      sqrt(greatest(
        (CAST((SELECT n FROM cnt) * (SELECT syy FROM ys)
              - (SELECT sy FROM ys) * (SELECT sy FROM ys) AS DOUBLE) / {float(_Q40)}
         - 2.0 * (CAST((SELECT SUM(b.b * v.val)
                        FROM bt b JOIN bv v ON v.i = b.j) AS DOUBLE) / {_Q70F}))
        + CAST((SELECT SUM(b.b * z.z)
                FROM bt b JOIN zc z ON z.j = b.j) AS DOUBLE) / {_Q70F},
        0.0) / (SELECT n FROM cnt) / (SELECT n FROM cnt)) AS r)""")
    return ",".join(parts)


#: full-corpus scoring CTEs: per-document exact integer score fold
#: ``pq = Σ_dim floor(c/n · 2^20) · B_dim`` (zero-count dims
#: contribute exactly 0, so the sparse sum equals the dense fold).
_SCORE_CTES = f"""
    afn AS MATERIALIZED (
      SELECT doc_id, source, lang, toks, CAST(len(toks) AS BIGINT) AS n
      FROM (SELECT doc_id, source, lang, {_TOK} AS toks FROM documents)
      WHERE len(toks) > 0),
    acnt AS (
      SELECT doc_id, pos, n, COUNT(*) AS c
      FROM (SELECT doc_id, n, {_DIM} AS pos
            FROM (SELECT doc_id, n, unnest(toks) AS t FROM afn))
      GROUP BY 1, 2, 3),
    apq AS MATERIALIZED (
      SELECT a.doc_id,
             CAST(SUM(CAST(floor(CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                                 * {_Q20F}) AS HUGEINT) * b.b)
                  AS HUGEINT) AS p
      FROM acnt a JOIN bt b ON b.j = a.pos GROUP BY 1)"""


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH {_fit_ctes()},{_SCORE_CTES}
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN (SELECT ic FROM icte)
                              + CAST(p.p AS DOUBLE) / {_Q50F}
                              >= CAST(5 AS DOUBLE) / 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           (SELECT ic FROM icte)
             + CAST(SUM(p.p) AS DOUBLE) / COUNT(*) / {_Q50F} AS mean_score,
           (SELECT r FROM rmse) AS train_rmse,
           CAST((SELECT n FROM cnt) AS BIGINT) AS model_n
    FROM afn f JOIN apq p USING (doc_id)
    GROUP BY 1
    """,
    gate=False,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the trained quality classifier on the deterministic
    self-supervised slice (Gopher-pass positives vs planted-junk
    negatives — ``operators.quality``), then score the WHOLE corpus
    with the exact integer fold and report per-source pass rates at
    the 0.5 threshold. Fit = one Arrow moments pass over the bounded
    slice + a driver-side integer solve; scoring = zero-shuffle
    map-side JVM column expressions; ONE final source-keyed
    aggregation. The DuckDB oracle replays the slice, the moments,
    all 15 elimination pivots, back-substitution, the intercept, the
    RMSE, and every per-document score bit-for-bit."""
    from ..operators.models import roundtrip_models
    from ..operators.quality import (
        hashed_tf_features,
        quality_classifier_fit,
        quality_pq_col,
    )

    docs = table(spark, sf_dir, "documents")
    # shared featurize: the fit's positive slice reuses the SAME
    # materialized corpus features the scoring pass reads (negatives
    # featurize their degraded text separately - see
    # quality_classifier_fit); gp rides along so the positive filter
    # never re-derives the Gopher gate from stored text
    qfeats = _qfeats_gated(docs)
    model = quality_classifier_fit(docs, d=D, lam=LAM, feats=qfeats)
    # registry boundary (r13 verdict item 3): scoring runs on the
    # LOADED head, never the in-session fit — bit-exact round-trip,
    # oracle unchanged
    model = roundtrip_models(spark, {"quality": model})["quality"]
    ic = float(model["intercept"])
    scored = qfeats.select(
        "source", quality_pq_col(model).alias("_pq")
    )
    pred = F.lit(ic) + F.col("_pq").cast("double") / F.lit(_Q50F)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((pred >= F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("n_pass"),
            (
                F.lit(ic)
                + F.sum(F.col("_pq").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(_Q50F)
            ).alias("mean_score"),
        )
        .withColumn("train_rmse", F.lit(float(model["rmse"])))
        .withColumn("model_n", F.lit(int(model["n"])).cast("bigint"))
    )


@query(
    "corpus_curation_v6",
    oracle=f"""
    WITH {_fit_ctes()},{_SCORE_CTES},
    keepfirst AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents)
      GROUP BY fp),
    flags AS (
      SELECT f.source, f.lang, f.n,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS u,
             CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS gp,
             CASE WHEN p.p IS NOT NULL
                       AND (SELECT ic FROM icte)
                           + CAST(p.p AS DOUBLE) / {_Q50F}
                           >= CAST(5 AS DOUBLE) / 10
                  THEN 1 ELSE 0 END AS sc,
             COALESCE(p.p, 0) AS pq
      FROM afn f
      LEFT JOIN keepfirst k USING (doc_id)
      LEFT JOIN gpass g USING (doc_id)
      LEFT JOIN apq p USING (doc_id))
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(u) AS BIGINT) AS n_unique,
           CAST(SUM(u * gp) AS BIGINT) AS n_gopher,
           CAST(SUM(u * gp * sc) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN u * gp * sc = 1 THEN n ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           CASE WHEN SUM(u * gp * sc) > 0
                THEN (SELECT ic FROM icte)
                     + CAST(SUM(CASE WHEN u * gp * sc = 1 THEN pq
                                     ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(u * gp * sc) AS BIGINT) / {_Q50F}
                ELSE CAST(0 AS DOUBLE) END AS kept_mean_score
    FROM flags GROUP BY 1, 2
    """,
    gate=False,
)
def corpus_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v6 — the first chain gated by a TRAINED model:
    exact-dedup (content-fingerprint keep-first) → Gopher rule
    conjunction → trained-classifier score ≥ 0.5, reporting per
    (source, lang) funnel counts, kept token mass, and the exact
    mean kept score. Shuffle budget: one fingerprint aggregation,
    one doc_id-keyed flag join, one final group-by — every gate
    itself is map-side; at 100 TB the chain costs two exchanges
    beyond the scan. The classifier fit (bounded labeled slice →
    integer ridge solve) and every score replay in the oracle
    bit-for-bit."""
    from ..operators import textstats as TS
    from ..operators.quality import (
        hashed_tf_features,
        quality_classifier_fit,
        quality_pq_col,
    )

    docs = table(spark, sf_dir, "documents")
    # shared featurize: the fit's positive slice reuses the SAME
    # materialized corpus features the scoring pass reads (negatives
    # featurize their degraded text separately - see
    # quality_classifier_fit); gp precomputed in the featurize pass
    qfeats = _qfeats_gated(docs)
    model = quality_classifier_fit(docs, d=D, lam=LAM, feats=qfeats)
    ic = float(model["intercept"])
    keepers = (
        docs.groupBy(TS.fingerprint("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("u"))
    )
    feats = qfeats.select(
        "doc_id",
        "source",
        "lang",
        F.col("_n").alias("n"),
        "gp",
        quality_pq_col(model).alias("pq"),
    )
    pred = F.lit(ic) + F.col("pq").cast("double") / F.lit(_Q50F)
    flags = (
        feats.join(keepers, "doc_id", "left")
        .withColumn("u", F.coalesce(F.col("u"), F.lit(0)))
        .withColumn("sc", (pred >= F.lit(0.5)).cast("int"))
        .withColumn("k", F.col("u") * F.col("gp") * F.col("sc"))
    )
    kept_pq = F.when(F.col("k") == 1, F.col("pq")).otherwise(F.lit(0))
    n_kept = F.sum("k").cast("bigint")
    return flags.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("u").cast("bigint").alias("n_unique"),
        F.sum(F.col("u") * F.col("gp")).cast("bigint").alias("n_gopher"),
        n_kept.alias("n_kept"),
        F.sum(F.when(F.col("k") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
        F.when(
            n_kept > 0,
            F.lit(ic)
            + F.sum(kept_pq.cast("decimal(38,0)")).cast("double")
            / n_kept
            / F.lit(_Q50F),
        )
        .otherwise(F.lit(0.0))
        .alias("kept_mean_score"),
    )


def _v7_oracle() -> str:
    from .textops import _kn_docscore_parts

    return f"""
    WITH {_fit_ctes()},{_SCORE_CTES},{_kn_docscore_parts()},
    keepfirst AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents)
      GROUP BY fp),
    knd AS MATERIALIZED (
      SELECT doc.lang, s.doc_id,
             CAST(CAST(-s.lq_sum AS HUGEINT) * 1048576 // s.n_bigrams
                  AS BIGINT) AS ppl_q
      FROM docscore s JOIN documents doc USING (doc_id)),
    kc AS (SELECT lang, COUNT(*) AS n FROM knd GROUP BY 1),
    ko AS (SELECT lang, ppl_q,
                  row_number() OVER (PARTITION BY lang ORDER BY ppl_q) AS rn
           FROM knd),
    kb AS (SELECT ko.lang, ko.ppl_q AS b2
           FROM ko JOIN kc ON ko.lang = kc.lang
           WHERE ko.rn = greatest((kc.n * 2) // 3, 1)),
    pxt AS (SELECT knd.doc_id,
                   CASE WHEN knd.ppl_q <= kb.b2 THEN 1 ELSE 0 END AS px
            FROM knd JOIN kb ON knd.lang = kb.lang),
    flags AS (
      SELECT f.source, f.lang, f.n,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS u,
             CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS gp,
             CASE WHEN p.p IS NOT NULL
                       AND (SELECT ic FROM icte)
                           + CAST(p.p AS DOUBLE) / {_Q50F}
                           >= CAST(5 AS DOUBLE) / 10
                  THEN 1 ELSE 0 END AS sc,
             COALESCE(x.px, 0) AS px
      FROM afn f
      LEFT JOIN keepfirst k USING (doc_id)
      LEFT JOIN gpass g USING (doc_id)
      LEFT JOIN apq p USING (doc_id)
      LEFT JOIN pxt x USING (doc_id))
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(u) AS BIGINT) AS n_unique,
           CAST(SUM(u * gp) AS BIGINT) AS n_gopher,
           CAST(SUM(u * gp * sc) AS BIGINT) AS n_classifier,
           CAST(SUM(u * gp * sc * px) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN u * gp * sc * px = 1 THEN n ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM flags GROUP BY 1, 2
    """


@query("corpus_curation_v7", oracle=_v7_oracle(), gate=False)
def corpus_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v7 — v6's trained-classifier chain plus the CCNet
    PERPLEXITY GATE: exact-dedup keep-first → Gopher rules → trained
    classifier score ≥ 0.5 → keep only the head/middle per-language
    perplexity terciles of the Kneser-Ney LM (docs the LM can't score
    — under two tokens — don't pass). This is the production stack:
    rule gates catch boilerplate, the trained model catches junk the
    rules miss, the LM gate catches fluent-but-off-distribution text.
    Per-(source, lang) funnel: raw → unique → gopher → classifier →
    kept, with kept token mass. Shuffle budget unchanged from v6 plus
    the LM's own bounded aggregates: every GATE is still a map-side
    flag join on doc_id; tercile boundaries come from the grouped
    bucketed-selection descent (no per-language sort) exactly as in
    ``text_ccnet_perplexity_buckets``."""
    from ..operators import textstats as TS
    from ..operators.orderstats import equi_depth_boundaries_by
    from ..operators.quality import (
        hashed_tf_features,
        quality_classifier_fit,
        quality_pq_col,
    )
    from .textops import _kn_doc_scores

    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")

    # the two setup chains — (shared-featurize → classifier fit) and
    # the KN doc-score pipeline — are independent jobs; overlap their
    # submission (guide §2.6 back-fill, the corpus_curation_v10
    # pattern): identical jobs, concurrent submission, critical path
    # = the slower branch instead of the sum.
    def _branch_quality():
        # shared featurize: the fit's positive slice reuses the SAME
        # materialized corpus features the scoring pass reads
        # (negatives featurize their degraded text separately - see
        # quality_classifier_fit); gp precomputed in the featurize
        qfeats = _qfeats_gated(docs)
        return qfeats, quality_classifier_fit(
            docs, d=D, lam=LAM, feats=qfeats
        )

    (qfeats, model), kn = in_parallel(
        _branch_quality,
        lambda: materialize(
            _kn_doc_scores(spark, sf_dir)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .selectExpr(
                "doc_id",
                "lang",
                "CAST(CAST(-lq_sum AS DECIMAL(38,0)) * 1048576"
                " DIV n_bigrams AS BIGINT) AS ppl_q",
            )
        ),
    )
    ic = float(model["intercept"])
    keepers = (
        docs.groupBy(TS.fingerprint("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("u"))
    )
    feats = qfeats.select(
        "doc_id",
        "source",
        "lang",
        F.col("_n").alias("n"),
        "gp",
        quality_pq_col(model).alias("pq"),
    )
    bnds = equi_depth_boundaries_by(kn, "lang", "ppl_q", 3)
    bounds = route.driver_frame(
        spark,
        [(grp[0], int(bs[1])) for grp, bs in bnds.items()],
        "lang string, _b2 bigint",
    )
    px_tbl = kn.join(F.broadcast(bounds), "lang").select(
        "doc_id",
        (F.col("ppl_q") <= F.col("_b2")).cast("int").alias("px"),
    )
    pred = F.lit(ic) + F.col("pq").cast("double") / F.lit(_Q50F)
    flags = (
        feats.join(keepers, "doc_id", "left")
        .join(px_tbl, "doc_id", "left")
        .withColumn("u", F.coalesce(F.col("u"), F.lit(0)))
        .withColumn("px", F.coalesce(F.col("px"), F.lit(0)))
        .withColumn("sc", (pred >= F.lit(0.5)).cast("int"))
        .withColumn(
            "k", F.col("u") * F.col("gp") * F.col("sc") * F.col("px")
        )
    )
    return flags.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("u").cast("bigint").alias("n_unique"),
        F.sum(F.col("u") * F.col("gp")).cast("bigint").alias("n_gopher"),
        F.sum(F.col("u") * F.col("gp") * F.col("sc"))
        .cast("bigint")
        .alias("n_classifier"),
        F.sum("k").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("k") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
    )


def _v8_oracle() -> str:
    from .analytics import pagerank_weighted_levels

    sid = lambda c: f"CAST(substr({c}, 4) AS INTEGER)"  # noqa: E731
    ed = f"""
        SELECT {sid("sa")} AS src, {sid("sb")} AS dst, w FROM vew
        UNION ALL
        SELECT {sid("sb")} AS src, {sid("sa")} AS dst, w FROM vew"""
    return f"""
    WITH {_fit_ctes()},{_SCORE_CTES},
    keepfirst AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents)
      GROUP BY fp),
    vflags AS MATERIALIZED (
      SELECT f.doc_id, f.source, f.n,
             CASE WHEN kf.doc_id IS NOT NULL THEN 1 ELSE 0 END AS u,
             CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS gp,
             CASE WHEN p.p IS NOT NULL
                       AND (SELECT ic FROM icte)
                           + CAST(p.p AS DOUBLE) / {_Q50F}
                           >= CAST(5 AS DOUBLE) / 10
                  THEN 1 ELSE 0 END AS sc
      FROM afn f
      LEFT JOIN keepfirst kf USING (doc_id)
      LEFT JOIN gpass g USING (doc_id)
      LEFT JOIN apq p USING (doc_id)),
    vtok AS (SELECT DISTINCT source, unnest({_TOK}) AS token
             FROM documents),
    vh AS (SELECT DISTINCT source,
                  CAST('0x'||substr(md5('kmv:'||token),1,8) AS BIGINT) AS hv
           FROM vtok),
    vsk AS MATERIALIZED (
      SELECT source, hv FROM (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM vh) WHERE rn <= 64),
    vpr AS (SELECT a.source AS sa, b.source AS sb
            FROM (SELECT DISTINCT source FROM vsk) a
            JOIN (SELECT DISTINCT source FROM vsk) b ON a.source < b.source),
    vmg AS (
      SELECT p.sa, p.sb, s.hv,
             MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
             MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
      FROM vpr p JOIN vsk s ON s.source IN (p.sa, p.sb)
      GROUP BY 1, 2, 3),
    vtp AS (SELECT * FROM (
              SELECT vmg.*, row_number() OVER (PARTITION BY sa, sb
                                               ORDER BY hv) AS rn
              FROM vmg) WHERE rn <= 64),
    vew AS MATERIALIZED (
      SELECT sa, sb, CAST(SUM(ia * ib) AS BIGINT) AS w
      FROM vtp GROUP BY 1, 2 HAVING SUM(ia * ib) > 0),
    {pagerank_weighted_levels(ed, iters=8)},
    srcs AS (SELECT DISTINCT source FROM documents),
    rks AS (SELECT s.source, COALESCE(r.rq, 0) AS rank_q
            FROM srcs s LEFT JOIN r8 r
              ON r.node = {sid("s.source")}),
    sns AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n
            FROM vflags WHERE u * gp * sc = 1 GROUP BY 1),
    bdg AS (SELECT COALESCE(SUM(n), 0) // 2 AS b FROM sns),
    wt AS (SELECT COALESCE(SUM(rank_q), 0) AS w FROM rks),
    qb AS (
      SELECT r.source, r.rank_q,
             CASE WHEN (SELECT w FROM wt) = 0 THEN 0
                  ELSE (r.rank_q * (SELECT b FROM bdg))
                       // (SELECT w FROM wt) END AS base,
             CASE WHEN (SELECT w FROM wt) = 0 THEN 0
                  ELSE (r.rank_q * (SELECT b FROM bdg))
                       % (SELECT w FROM wt) END AS rem
      FROM rks r),
    ext AS (SELECT CASE WHEN (SELECT w FROM wt) = 0 THEN 0
                        ELSE (SELECT b FROM bdg) - SUM(base) END AS e
            FROM qb),
    qa AS MATERIALIZED (
      SELECT source, rank_q,
             base + CASE WHEN (SELECT w FROM wt) > 0
                              AND row_number() OVER (ORDER BY rem DESC,
                                                     source)
                                  <= (SELECT e FROM ext)
                         THEN 1 ELSE 0 END AS quota
      FROM qb),
    vsel AS (SELECT doc_id, source,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY doc_id) AS rn
             FROM vflags WHERE u * gp * sc = 1),
    vkept AS MATERIALIZED (
      SELECT v.doc_id FROM vsel v
      JOIN qa q USING (source)
      LEFT JOIN sns s USING (source)
      WHERE v.rn <= LEAST(q.quota, COALESCE(s.n, 0)))
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f.u) AS BIGINT) AS n_unique,
           CAST(SUM(f.u * f.gp) AS BIGINT) AS n_gopher,
           CAST(SUM(f.u * f.gp * f.sc) AS BIGINT) AS n_classifier,
           CAST(MAX(q.rank_q) AS BIGINT) AS rank_q,
           CAST(MAX(q.quota) AS BIGINT) AS quota,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN f.n ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM vflags f
    JOIN qa q USING (source)
    LEFT JOIN vkept k USING (doc_id)
    GROUP BY 1
    """


@query("corpus_curation_v8", oracle=_v8_oracle(), gate=False)
def corpus_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v8 — the graph↔curation loop closed: v6's trained
    gates (exact-dedup keep-first → Gopher rules → classifier ≥ 0.5)
    followed by RANK-WEIGHTED SAMPLING, the Common Crawl pattern
    where crawl budget is allocated by host centrality rather than
    volume. The source-affinity graph has sources as nodes and KMV
    vocabulary-overlap counts as integer edge weights
    (``sketch.kmv_pair_overlap``'s merged-k-min intersection — the
    redundancy signal); 8 rounds of weighted integer PageRank
    (``graph.pagerank``) rank the sources; half the surviving
    documents form the budget, apportioned across sources by
    largest-remainder quotas PROPORTIONAL TO RANK
    (``sampling.weighted_quotas``), each source keeping its
    quota-smallest doc_ids (``orderstats.kth_smallest_by`` — the
    grouped bucketed-selection descent, never a per-source sort).

    Scale shape: the gates are v6's (two exchanges beyond the scan);
    the affinity graph lives at |sources| scale (sketches are k-row
    per source, pairs |sources|²·k, the walk is tiny); quotas are
    python-int arithmetic on the bounded |sources| table; selection
    is one descent + a map-side threshold filter. The oracle replays
    the classifier fit, every PageRank level, the quota
    apportionment, and the per-source selection bit-for-bit."""
    from ..operators import textstats as TS
    from ..operators.graph import pagerank_py
    from ..operators.orderstats import kth_smallest_by
    from ..operators.quality import (
        hashed_tf_features,
        quality_classifier_fit,
        quality_pq_col,
    )
    from ..operators.sampling import weighted_quotas
    from ..operators.sketch import kmv_minhashes_by, kmv_pair_overlap

    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")

    # the three setup chains — (shared-featurize → classifier fit →
    # materialized flags), the |sources|²·k sketch-overlap collect,
    # and the source inventory — are independent jobs; overlap their
    # submission (guide §2.6 back-fill, the corpus_curation_v10
    # pattern).
    def _branch_flags():
        # shared featurize: the fit's positive slice reuses the SAME
        # materialized corpus features the scoring pass reads
        # (negatives featurize their degraded text separately - see
        # quality_classifier_fit); gp precomputed in the featurize
        qfeats = _qfeats_gated(docs)
        model = quality_classifier_fit(docs, d=D, lam=LAM, feats=qfeats)
        ic = float(model["intercept"])
        keepers = (
            docs.groupBy(TS.fingerprint("text").alias("_fp"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", F.lit(1).alias("u"))
        )
        feats = qfeats.select(
            "doc_id",
            "source",
            F.col("_n").alias("n"),
            "gp",
            quality_pq_col(model).alias("pq"),
        )
        pred = F.lit(ic) + F.col("pq").cast("double") / F.lit(_Q50F)
        return materialize(
            feats.join(keepers, "doc_id", "left")
            .withColumn("u", F.coalesce(F.col("u"), F.lit(0)))
            .withColumn("sc", (pred >= F.lit(0.5)).cast("int"))
            .withColumn("surv", F.col("u") * F.col("gp") * F.col("sc"))
            .drop("pq")
        )

    def _branch_ovl():
        # source-affinity graph: KMV vocab-overlap counts as weights
        tok = docs.select(
            "source", F.explode(TS.tokens(F.col("text"))).alias("token")
        )
        sk = kmv_minhashes_by(tok, "source", "token", k=64)
        return (
            kmv_pair_overlap(sk, "source", k=64)
            .filter(F.col("ovl") > 0)
            .select("ga", "gb", "ovl")
            .collect()  # bounded: |sources|^2 pairs
        )

    flags, ovl_rows, src_rows = in_parallel(
        _branch_flags,
        _branch_ovl,
        lambda: docs.select("source").distinct().collect(),
    )
    # the affinity graph is |sources|-bounded BY CONSTRUCTION
    # (kmv_pair_overlap guards the fan-out), and the rank dict was
    # always collected — run the 8-round integer walk driver-side on
    # the collected pair list (pagerank_py: bit-identical replica,
    # parity-pinned) instead of paying 8 join+agg rounds of fixed
    # plan overhead (~3 s at sf0.1 for a 20-node graph)
    elist = []
    for r in ovl_rows:
        a, b, w = int(r["ga"][3:]), int(r["gb"][3:]), int(r["ovl"])
        elist += [(a, b, w), (b, a, w)]
    ranks = pagerank_py(elist, iters=8)
    sources = sorted(r["source"] for r in src_rows)
    # ONE fused job returns the per-source survivor counts AND the
    # (min, max, count) stats the selection descent needs
    # (kth_smallest_by's stats= fast path — the curation_finalize
    # fusion), deleting the descent's standalone stats job.
    surv_stats = {
        r["source"]: (int(r["lo"]), int(r["hi"]), int(r["n"]))
        for r in flags.filter(F.col("surv") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    }
    n_surv = {s: t[2] for s, t in surv_stats.items()}
    weights = {s: ranks.get(int(s[3:]), 0) for s in sources}
    budget = sum(n_surv.values()) // 2
    quotas = weighted_quotas(weights, budget)
    target = {s: min(quotas[s], n_surv.get(s, 0)) for s in sources}
    ranks_arg = {(s,): [target[s]] for s in sources if target[s] >= 1}
    surv = flags.filter(F.col("surv") == 1)
    thr = {}
    if ranks_arg:
        vals, _ = kth_smallest_by(
            surv.select("source", "doc_id"),
            "source",
            "doc_id",
            ranks_arg,
            stats={
                (s,): surv_stats[s] for s in sources if target[s] >= 1
            },
        )
        thr = {grp[0]: int(ks[target[grp[0]]]) for grp, ks in vals.items()}
    meta = route.driver_frame(
        spark,
        [
            (s, weights[s], quotas[s], thr.get(s))
            for s in sources
        ],
        "source string, rank_q long, quota long, _thr long",
    )
    kept = (
        (F.col("surv") == 1)
        & F.col("_thr").isNotNull()
        & (F.col("doc_id") <= F.col("_thr"))
    ).cast("int")
    return (
        flags.join(F.broadcast(meta), "source")
        .withColumn("kp", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("u").cast("bigint").alias("n_unique"),
            F.sum(F.col("u") * F.col("gp")).cast("bigint").alias("n_gopher"),
            F.sum("surv").cast("bigint").alias("n_classifier"),
            F.max("rank_q").cast("bigint").alias("rank_q"),
            F.max("quota").cast("bigint").alias("quota"),
            F.sum("kp").cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kp") == 1, F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


def _v9_oracle() -> str:
    from .lid import LANGS as _LANGS
    from .lid import NL as _NL
    from .lid import _fit_ctes as _lid_fit_ctes
    from .lid import _gram_ctes as _lid_gram_ctes
    from .lid import _score_case as _lid_score_case
    from .textops import _kn_docscore_parts

    lid_apq = "".join(
        f"""
    laq{c} AS MATERIALIZED (
      SELECT a.vec_id AS doc_id, CAST(SUM(a.xi * b.b) AS HUGEINT) AS p
      FROM laxq a JOIN l_bt{c} b ON b.j = a.pos GROUP BY 1),"""
        for c in range(_NL)
    )
    lid_scores = ", ".join(
        f"(SELECT ic{c} FROM l_ic) + CAST(p{c}.p AS DOUBLE) / {_Q50F} AS s{c}"
        for c in range(_NL)
    )
    lid_joins = " ".join(
        f"JOIN laq{c} p{c} USING (doc_id)" for c in range(_NL)
    )
    return f"""
    WITH {_lid_fit_ctes("l_")},
    {_lid_gram_ctes("la", "TRUE", marks="l_marks")},{lid_apq}
    lsc AS (
      SELECT t.doc_id, {lid_scores}
      FROM latr t {lid_joins}),
    lpred AS MATERIALIZED (
      SELECT doc_id, {_lid_score_case()} AS pred_lang FROM lsc),
    {_fit_ctes()},{_SCORE_CTES},{_kn_docscore_parts()},
    keepfirst AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents)
      GROUP BY fp),
    knd AS MATERIALIZED (
      SELECT lp.pred_lang, s.doc_id,
             CAST(CAST(-s.lq_sum AS HUGEINT) * 1048576 // s.n_bigrams
                  AS BIGINT) AS ppl_q
      FROM docscore s JOIN lpred lp USING (doc_id)),
    kc AS (SELECT pred_lang, COUNT(*) AS n FROM knd GROUP BY 1),
    ko AS (SELECT pred_lang, ppl_q,
                  row_number() OVER (PARTITION BY pred_lang
                                     ORDER BY ppl_q) AS rn
           FROM knd),
    kb AS (SELECT ko.pred_lang, ko.ppl_q AS b2
           FROM ko JOIN kc ON ko.pred_lang = kc.pred_lang
           WHERE ko.rn = greatest((kc.n * 2) // 3, 1)),
    pxt AS (SELECT knd.doc_id,
                   CASE WHEN knd.ppl_q <= kb.b2 THEN 1 ELSE 0 END AS px
            FROM knd JOIN kb ON knd.pred_lang = kb.pred_lang),
    flags AS (
      SELECT f.source, lp.pred_lang, f.n,
             CASE WHEN f.lang = lp.pred_lang THEN 1 ELSE 0 END AS lm,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS u,
             CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS gp,
             CASE WHEN p.p IS NOT NULL
                       AND (SELECT ic FROM icte)
                           + CAST(p.p AS DOUBLE) / {_Q50F}
                           >= CAST(5 AS DOUBLE) / 10
                  THEN 1 ELSE 0 END AS sc,
             COALESCE(x.px, 0) AS px
      FROM afn f
      JOIN lpred lp USING (doc_id)
      LEFT JOIN keepfirst k USING (doc_id)
      LEFT JOIN gpass g USING (doc_id)
      LEFT JOIN apq p USING (doc_id)
      LEFT JOIN pxt x USING (doc_id))
    SELECT source, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(lm) AS BIGINT) AS n_lang_match,
           CAST(SUM(u) AS BIGINT) AS n_unique,
           CAST(SUM(u * gp) AS BIGINT) AS n_gopher,
           CAST(SUM(u * gp * sc) AS BIGINT) AS n_classifier,
           CAST(SUM(u * gp * sc * px) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN u * gp * sc * px = 1 THEN n ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM flags GROUP BY 1, 2
    """


@query("corpus_curation_v9", oracle=_v9_oracle(), gate=False)
def corpus_curation_v9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v9 — the FULL production stack with the trained LID
    gate in front: every per-language decision downstream runs on the
    PREDICTED language (CCNet/RefinedWeb order — fastText LID first,
    because crawl metadata lies), not the metadata ``lang`` column.
    Chain: LID fit (train slice) + whole-corpus argmax prediction →
    exact-dedup keep-first → Gopher rules → trained quality
    classifier ≥ 0.5 → per-PREDICTED-language Kneser-Ney perplexity
    terciles (keep head/middle). Output per (source, pred_lang)
    funnel, with ``n_lang_match`` auditing prediction-vs-metadata
    agreement. Shuffle budget: v7's two flag-join exchanges + LID's
    zero-shuffle scoring (five integer folds over a 240-char prefix)
    + one doc_id-keyed prediction join. Both classifier fits, every
    elimination pivot, every score fold, the argmax, and the grouped
    tercile selection replay in the oracle bit-for-bit."""
    from ..operators import textstats as TS
    from ..operators.lid import (
        LANGS,
        char_trigram_features,
        lid_fit,
        lid_predict_col,
        lid_score_cols,
        plant_markers,
    )
    from ..operators.orderstats import equi_depth_boundaries_by
    from ..operators.quality import (
        hashed_tf_features,
        quality_classifier_fit,
        quality_pq_col,
    )
    from .textops import _kn_doc_scores

    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")

    # the three setup chains — (planted featurize → LID fit),
    # (shared-featurize → quality fit) and the KN doc-score pipeline —
    # are independent jobs; overlap their submission (guide §2.6
    # back-fill, the corpus_curation_v10 pattern): identical jobs,
    # concurrent submission, critical path = the slowest branch.
    def _branch_lid():
        # shared featurize: LID fit reads the train filter of the
        # SAME materialized planted frame the whole-corpus prediction
        # reads (featurize is per-row map work — row-identical)
        planted = materialize(
            char_trigram_features(plant_markers(docs), d=16, cap=240)
        )
        return planted, lid_fit(
            docs, d=16, cap=240, lam=1, holdout_mod=5, feats=planted
        )

    def _branch_quality():
        # shared featurize: the fit's positive slice reuses the SAME
        # materialized corpus features the scoring pass reads
        # (negatives featurize their degraded text separately - see
        # quality_classifier_fit); gp precomputed in the featurize
        qfeats = _qfeats_gated(docs)
        return qfeats, quality_classifier_fit(
            docs, d=D, lam=LAM, feats=qfeats
        )

    (planted, lid_models), (qfeats, model), kn_raw = in_parallel(
        _branch_lid,
        _branch_quality,
        lambda: materialize(_kn_doc_scores(spark, sf_dir)),
    )
    # registry boundary (r13 verdict item 3): both heads score from
    # LOADED state — no gate query trains at score time
    lid_models, model = _registry_roundtrip(spark, lid_models, model)
    # two consumers (the kn join and the flags join) read pred_tbl,
    # but it is map-only work over the already-materialized planted
    # frame — two lazy re-derivations are cheaper than the eager
    # checkpoint job the materialize cost here (r15, guide §5
    # caching-only-when-recompute-is-expensive)
    pred_tbl = (
        planted.select("doc_id", *lid_score_cols(lid_models))
        .withColumn(
            "pred_lang",
            lid_predict_col([f"_s_{lg}" for lg in LANGS]),
        )
        .select("doc_id", "pred_lang")
    )
    ic = float(model["intercept"])
    keepers = (
        docs.groupBy(TS.fingerprint("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("u"))
    )
    feats = qfeats.select(
        "doc_id",
        "source",
        "lang",
        F.col("_n").alias("n"),
        "gp",
        quality_pq_col(model).alias("pq"),
    )
    kn = materialize(
        kn_raw.join(pred_tbl, "doc_id")
        .selectExpr(
            "doc_id",
            "pred_lang",
            "CAST(CAST(-lq_sum AS DECIMAL(38,0)) * 1048576"
            " DIV n_bigrams AS BIGINT) AS ppl_q",
        )
    )
    bnds = equi_depth_boundaries_by(kn, "pred_lang", "ppl_q", 3)
    bounds = route.driver_frame(
        spark,
        [(grp[0], int(bs[1])) for grp, bs in bnds.items()],
        "pred_lang string, _b2 bigint",
    )
    px_tbl = kn.join(F.broadcast(bounds), "pred_lang").select(
        "doc_id",
        (F.col("ppl_q") <= F.col("_b2")).cast("int").alias("px"),
    )
    pred = F.lit(ic) + F.col("pq").cast("double") / F.lit(_Q50F)
    flags = (
        feats.join(pred_tbl, "doc_id")
        .join(keepers, "doc_id", "left")
        .join(px_tbl, "doc_id", "left")
        .withColumn("u", F.coalesce(F.col("u"), F.lit(0)))
        .withColumn("px", F.coalesce(F.col("px"), F.lit(0)))
        .withColumn("sc", (pred >= F.lit(0.5)).cast("int"))
        .withColumn(
            "k", F.col("u") * F.col("gp") * F.col("sc") * F.col("px")
        )
    )
    return flags.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("lang") == F.col("pred_lang")).cast("int"))
        .cast("bigint")
        .alias("n_lang_match"),
        F.sum("u").cast("bigint").alias("n_unique"),
        F.sum(F.col("u") * F.col("gp")).cast("bigint").alias("n_gopher"),
        F.sum(F.col("u") * F.col("gp") * F.col("sc"))
        .cast("bigint")
        .alias("n_classifier"),
        F.sum("k").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("k") == 1, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
    )


def _v10_oracle() -> str:
    from .analytics import pagerank_weighted_levels
    from .lid import LANGS as _LANGS
    from .lid import NL as _NL
    from .lid import _fit_ctes as _lid_fit_ctes
    from .lid import _gram_ctes as _lid_gram_ctes
    from .lid import _score_case as _lid_score_case
    from .textops import _kn_docscore_parts, waterfall_levels

    sid = lambda c: f"CAST(substr({c}, 4) AS INTEGER)"  # noqa: E731
    ed = f"""
        SELECT {sid("sa")} AS src, {sid("sb")} AS dst, w FROM vew
        UNION ALL
        SELECT {sid("sb")} AS src, {sid("sa")} AS dst, w FROM vew"""
    lid_apq = "".join(
        f"""
    laq{c} AS MATERIALIZED (
      SELECT a.vec_id AS doc_id, CAST(SUM(a.xi * b.b) AS HUGEINT) AS p
      FROM laxq a JOIN l_bt{c} b ON b.j = a.pos GROUP BY 1),"""
        for c in range(_NL)
    )
    lid_scores = ", ".join(
        f"(SELECT ic{c} FROM l_ic) + CAST(p{c}.p AS DOUBLE) / {_Q50F} AS s{c}"
        for c in range(_NL)
    )
    lid_joins = " ".join(
        f"JOIN laq{c} p{c} USING (doc_id)" for c in range(_NL)
    )
    return f"""
    WITH {_lid_fit_ctes("l_")},
    {_lid_gram_ctes("la", "TRUE", marks="l_marks")},{lid_apq}
    lsc AS (
      SELECT t.doc_id, {lid_scores}
      FROM latr t {lid_joins}),
    lpred AS MATERIALIZED (
      SELECT doc_id, {_lid_score_case()} AS pred_lang FROM lsc),
    {_fit_ctes()},{_SCORE_CTES},{_kn_docscore_parts()},
    keepfirst AS MATERIALIZED (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents)
      GROUP BY fp),
    knd AS MATERIALIZED (
      SELECT lp.pred_lang, s.doc_id,
             CAST(CAST(-s.lq_sum AS HUGEINT) * 1048576 // s.n_bigrams
                  AS BIGINT) AS ppl_q
      FROM docscore s JOIN lpred lp USING (doc_id)),
    kc AS (SELECT pred_lang, COUNT(*) AS n FROM knd GROUP BY 1),
    ko AS (SELECT pred_lang, ppl_q,
                  row_number() OVER (PARTITION BY pred_lang
                                     ORDER BY ppl_q) AS rn
           FROM knd),
    kb AS (SELECT ko.pred_lang, ko.ppl_q AS b2
           FROM ko JOIN kc ON ko.pred_lang = kc.pred_lang
           WHERE ko.rn = greatest((kc.n * 2) // 3, 1)),
    pxt AS (SELECT knd.doc_id,
                   CASE WHEN knd.ppl_q <= kb.b2 THEN 1 ELSE 0 END AS px
            FROM knd JOIN kb ON knd.pred_lang = kb.pred_lang),
    vflags AS MATERIALIZED (
      SELECT f.doc_id, f.source, f.n,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS u,
             CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS gp,
             CASE WHEN p.p IS NOT NULL
                       AND (SELECT ic FROM icte)
                           + CAST(p.p AS DOUBLE) / {_Q50F}
                           >= CAST(5 AS DOUBLE) / 10
                  THEN 1 ELSE 0 END AS sc,
             COALESCE(x.px, 0) AS px
      FROM afn f
      JOIN lpred lp USING (doc_id)
      LEFT JOIN keepfirst k USING (doc_id)
      LEFT JOIN gpass g USING (doc_id)
      LEFT JOIN apq p USING (doc_id)
      LEFT JOIN pxt x USING (doc_id)),
    vtok AS (SELECT DISTINCT source, unnest({_TOK}) AS token
             FROM documents),
    vh AS (SELECT DISTINCT source,
                  CAST('0x'||substr(md5('kmv:'||token),1,8) AS BIGINT) AS hv
           FROM vtok),
    vsk AS MATERIALIZED (
      SELECT source, hv FROM (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM vh) WHERE rn <= 64),
    vpr AS (SELECT a.source AS sa, b.source AS sb
            FROM (SELECT DISTINCT source FROM vsk) a
            JOIN (SELECT DISTINCT source FROM vsk) b ON a.source < b.source),
    vmg AS (
      SELECT p.sa, p.sb, s.hv,
             MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ia,
             MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS ib
      FROM vpr p JOIN vsk s ON s.source IN (p.sa, p.sb)
      GROUP BY 1, 2, 3),
    vtp AS (SELECT * FROM (
              SELECT vmg.*, row_number() OVER (PARTITION BY sa, sb
                                               ORDER BY hv) AS rn
              FROM vmg) WHERE rn <= 64),
    vew AS MATERIALIZED (
      SELECT sa, sb, CAST(SUM(ia * ib) AS BIGINT) AS w
      FROM vtp GROUP BY 1, 2 HAVING SUM(ia * ib) > 0),
    {pagerank_weighted_levels(ed, iters=8, pfx="g")},
    srcs AS (SELECT DISTINCT source FROM documents),
    rks AS (SELECT s.source, COALESCE(r.rq, 0) AS rank_q
            FROM srcs s LEFT JOIN gr8 r
              ON r.node = {sid("s.source")}),
    sns AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n
            FROM vflags WHERE u * gp * sc * px = 1 GROUP BY 1),
    scap AS MATERIALIZED (
      SELECT s.source, CAST(COALESCE(n.n, 0) AS HUGEINT) AS cap
      FROM srcs s LEFT JOIN sns n USING (source)),
    swts AS MATERIALIZED (
      SELECT source, CAST(rank_q AS HUGEINT) AS w FROM rks),
    sbdg AS (SELECT COALESCE(SUM(n), 0) // 2 AS b FROM sns)
    {waterfall_levels("swts", "scap", "sbdg", 8, "wf")},
    vsel AS (SELECT doc_id, source,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY doc_id) AS rn
             FROM vflags WHERE u * gp * sc * px = 1),
    vkept AS MATERIALIZED (
      SELECT v.doc_id FROM vsel v
      JOIN wfa8 a USING (source)
      WHERE v.rn <= a.alloc)
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f.u) AS BIGINT) AS n_unique,
           CAST(SUM(f.u * f.gp) AS BIGINT) AS n_gopher,
           CAST(SUM(f.u * f.gp * f.sc) AS BIGINT) AS n_classifier,
           CAST(SUM(f.u * f.gp * f.sc * f.px) AS BIGINT) AS n_survivors,
           CAST(MAX(q.rank_q) AS BIGINT) AS rank_q,
           CAST(MAX(a.alloc) AS BIGINT) AS alloc,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN f.n ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM vflags f
    JOIN rks q USING (source)
    JOIN wfa8 a USING (source)
    LEFT JOIN vkept k USING (doc_id)
    GROUP BY 1
    """


def _curation_v10_impl(
    spark: SparkSession, sf_dir: str, *, use_registry: bool
) -> DataFrame:
    """Shared v10 body, now composed from the SCREEN / FINALIZE
    split in ``operators.curation`` (the same stages the streaming
    funnel runs incrementally — one code path, so batch ≡ funnel
    parity holds by construction). ``use_registry=True`` routes BOTH
    trained models through the persistent registry
    (``operators.models``: save → load from a versioned store) before
    scoring — the train-offline/score-online production shape,
    hash-gated because the integer round-trip is bit-exact."""
    from ..operators.curation import (
        curation_finalize,
        curation_screen,
        doc_identity,
        source_token_sketch,
    )
    from ..operators.lid import char_trigram_features, lid_fit, plant_markers
    from ..operators.quality import hashed_tf_features, quality_classifier_fit
    from .textops import _kn_doc_scores

    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")

    # shared featurize (see corpus_curation_v9): one materialized
    # planted frame serves the LID fit AND the corpus prediction; the
    # quality fit's positive slice reuses the scoring featurize the
    # same way (negatives featurize their degraded text separately).
    # The four setup chains — LID featurize+fit, quality featurize+
    # fit, the KN doc-score pipeline, the per-source KMV sketch — are
    # INDEPENDENT jobs, so they run overlapped (guide §2.6 back-fill;
    # identical jobs, concurrent submission): measured 6.6 s serial →
    # ~the slowest branch.
    def _branch_lid():
        planted = materialize(
            char_trigram_features(plant_markers(docs), d=16, cap=240)
        )
        return planted, lid_fit(
            docs, d=16, cap=240, lam=1, holdout_mod=5, feats=planted
        )

    def _branch_quality():
        qfeats = _qfeats_gated(docs)
        return qfeats, quality_classifier_fit(
            docs, d=D, lam=LAM, feats=qfeats
        )

    (planted, lid_models), (qfeats, model), kn, sketch = in_parallel(
        _branch_lid,
        _branch_quality,
        lambda: materialize(_kn_doc_scores(spark, sf_dir)),
        lambda: materialize(source_token_sketch(docs, k=64)),
    )
    if use_registry:
        lid_models, model = _registry_roundtrip(spark, lid_models, model)
    flags = materialize(
        curation_screen(
            docs, lid_models, model, planted=planted, qfeats=qfeats
        )
    )
    return curation_finalize(
        spark, flags, doc_identity(docs), kn, sketch
    )


def _registry_roundtrip(
    spark: SparkSession, lid_models: "list[dict]", model: dict
) -> "tuple[list[dict], dict]":
    """Route the two trained curation models through the persistent
    registry (save → load from a throwaway versioned store) so every
    downstream score runs on LOADED dicts — the production
    train-offline/score-online boundary, exercised in-query because
    the integer round-trip is bit-exact."""
    from ..operators.lid import LANGS
    from ..operators.models import roundtrip_models

    for m, lg in zip(lid_models, LANGS):
        m["label"] = lg
    loaded = roundtrip_models(
        spark, {"lid": lid_models, "quality": model}
    )
    return loaded["lid"], loaded["quality"]

@query("corpus_curation_v10", oracle=_v10_oracle(), gate=False)
def corpus_curation_v10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v10 — the COMPLETE stack, every capability this
    repo's curation lineage built, composed end to end: trained LID
    prediction first (v9), exact-dedup keep-first → Gopher rules →
    trained quality classifier → per-PREDICTED-language perplexity
    terciles, then RANK-WEIGHTED CAPACITY-WATERFALL sampling (v8's
    source-affinity PageRank weights + ``capped_weighted_quotas``,
    so quota mass a saturated source cannot absorb reallocates to
    unsaturated sources instead of shrinking the budget). Per-source
    funnel: raw → unique → gopher → classifier → survivors, with
    rank, waterfall allocation, kept counts and kept token mass
    (``n_kept == alloc`` by uniqueness wherever supply suffices —
    the waterfall never over-allocates a source). Both classifier
    fits, the KN LM, every PageRank level, all 8 waterfall rounds,
    and the per-source selection replay in the oracle
    bit-for-bit."""
    return _curation_v10_impl(spark, sf_dir, use_registry=False)


@query("corpus_curation_v10_registry", oracle=_v10_oracle(), gate=False)
def corpus_curation_v10_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation v10 through the MODEL REGISTRY (r12 verdict item 4):
    identical stack, but both trained models cross a persistence
    boundary before scoring — ``operators.models.save_models`` writes
    the LID heads and the quality head to a versioned store,
    ``load_models`` reads them back, and every downstream score runs
    on the LOADED dicts. The production train-offline/score-online
    shape: at 100 TB the fit runs in its own job and scoring jobs
    only ever load. The oracle is v10's unchanged — the registry
    stores the exact integer state (q30 ``b_int``, moment sums) plus
    IEEE-double intercepts, so loaded models score bit-identically to
    fitted ones (round-trip pinned in ``tests/test_model_registry.py``,
    including across a real session boundary)."""
    return _curation_v10_impl(spark, sf_dir, use_registry=True)


@query("corpus_curation_v10_incremental", oracle=_v10_oracle(), gate=False)
def corpus_curation_v10_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curation v10 in its CONTINUOUS-INGEST decomposition (r13
    verdict item 1): the corpus arrives in TWO waves (``doc_id % 2``
    slices playing two staged ingest batches), each wave runs only
    the per-document SCREEN with registry-LOADED models
    (``operators.curation.curation_screen`` — trained LID, Gopher,
    trained classifier; never fit in-stream) plus the per-doc dedup
    identity and the wave's per-source KMV sketch delta; accumulated
    state is the union of wave screens, the union of identity rows,
    and the MERGED sketch (``kmv_merge_by`` — top-k of a union equals
    the top-k of the union of top-ks, so truncated sketches merge
    losslessly). One FINALIZE pass then runs the corpus-global
    selection (keep-first MIN over accumulated identities, perplexity
    terciles, affinity PageRank over the merged sketch, waterfall,
    thresholds) over the corpus at rest.

    The oracle is ``corpus_curation_v10``'s UNCHANGED one-shot SQL —
    hash-green means two-wave ingest ≡ one-shot batch bit-for-bit,
    which is the decomposition proof: screens are pure per-row
    functions of (doc, models), identity keep-first is an associative
    MIN, and the KMV sketch is mergeable. The actual exactly-once
    stream mechanics (checkpoint-scoped epochs, availableNow drain,
    restart/replay) are engine-tested over the SAME operators in
    ``tests/test_streaming_funnel.py`` via
    ``streaming.funnel.curation_funnel_stream_into_store``."""
    from ..operators.curation import (
        curation_finalize,
        curation_screen,
        doc_identity,
        kmv_merge_by,
        source_token_sketch,
    )
    from ..operators.lid import char_trigram_features, lid_fit, plant_markers
    from ..operators.quality import hashed_tf_features, quality_classifier_fit
    from .textops import _kn_doc_scores

    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")

    # offline training job (identical fit to v10 — the oracle's):
    # shared featurize, then the registry round-trip so the waves
    # score with LOADED models only. The independent setup chains
    # (two featurize+fit branches, KN doc scores, per-wave sketches)
    # run overlapped — same jobs, concurrent submission (guide §2.6).
    def _branch_lid():
        planted = materialize(
            char_trigram_features(plant_markers(docs), d=16, cap=240)
        )
        return planted, lid_fit(
            docs, d=16, cap=240, lam=1, holdout_mod=5, feats=planted
        )

    def _branch_quality():
        qfeats = _qfeats_gated(docs)
        return qfeats, quality_classifier_fit(
            docs, d=D, lam=LAM, feats=qfeats
        )

    waves = [docs.filter(F.col("doc_id") % 2 == w) for w in (0, 1)]
    (planted, lid_models), (qfeats, model), kn, sketch = in_parallel(
        _branch_lid,
        _branch_quality,
        lambda: materialize(_kn_doc_scores(spark, sf_dir)),
        lambda: materialize(
            kmv_merge_by(
                [source_token_sketch(w, k=64) for w in waves],
                "source",
                k=64,
            )
        ),
    )
    lid_models, model = _registry_roundtrip(spark, lid_models, model)
    # each wave's screen reuses the ALREADY-MATERIALIZED featurizer
    # frames, sliced to the wave: the featurizers are pure per-row
    # maps, so filter(featurize(docs)) ≡ featurize(filter(docs))
    # row-for-row — the same shared-featurize identity the fit path
    # uses (lid_fit's train-slice filter). Re-featurizing per wave
    # cost one extra full-corpus trigram+token hash pass (~2 s at
    # sf0.1) for bit-identical rows; the wave decomposition being
    # demonstrated (screen per wave, union, mergeable sketches,
    # one finalize) is unchanged.
    flags = materialize(
        curation_screen(
            waves[0],
            lid_models,
            model,
            planted=planted.filter(F.col("doc_id") % 2 == 0),
            qfeats=qfeats.filter(F.col("doc_id") % 2 == 0),
        ).unionByName(
            curation_screen(
                waves[1],
                lid_models,
                model,
                planted=planted.filter(F.col("doc_id") % 2 == 1),
                qfeats=qfeats.filter(F.col("doc_id") % 2 == 1),
            )
        )
    )
    fps = doc_identity(waves[0]).unionByName(doc_identity(waves[1]))
    return curation_finalize(spark, flags, fps, kn, sketch)
