"""Distributed PCA over an embedding column.

Dimensionality reduction for embedding pipelines (compaction before
ANN indexing, decorrelation before quantization — the classic
pre-processing in front of the IVF/PQ operators in
``operators.similarity``). The reference engine has no linear-algebra
surface at all; this is a Spark-first design:

- **fit** is ONE distributed pass computing per-partition INTEGER
  second moments (count, Σxᵢ, Σxᵢxᵢᵀ over q20-quantized coordinates
  ``xi = floor(x·2^20)``) via Arrow-batched ``mapInPandas`` — the
  executors reduce 100 TB of vectors to ``num_partitions`` rows of
  d + d² int64s; the driver sums those bounded partials in exact
  Python-int arithmetic and extracts the top-k directions of the d×d
  scatter with fixed-count power iteration + Hotelling deflation in
  replayable integer fixed point (``operators.intlin`` — the r8
  promotion discipline that replaced ``np.linalg.eigh``, r8 verdict
  task #2: a fixpoint with a query-constant iteration count unrolls
  into DuckDB CTE levels, and integer arithmetic kills every
  cross-engine float seam);
- **project** is pure map-side JVM column expressions: each component
  folds the q20-quantized vector against its q15 integer direction
  (exact int64 per row), converts with one power-of-two division
  (exact), and subtracts a precomputed mean-centering offset — zero
  shuffles, zero Python in the query plan, and every projected value
  bit-reproducible on any engine.

Eigenvector sign is fixed (largest-magnitude coordinate made
positive) so fits are reproducible across runs and cluster layouts.
Explained variance is the exact-integer Rayleigh quotient of each
direction on the ORIGINAL scatter — for converged directions it IS
the eigenvalue; for a direction still converging (tiny spectral gaps)
it is the honest variance captured by the direction actually used.

The catalog queries (``pca_embeddings_project``,
``ann_pca_prefilter``) are full DuckDB-oracle-backed: the twin
replays moments, truncation, every power-iteration level, deflation,
sign-fix, and projection bit-for-bit (promoted from rows-only in r9).
Numerics are additionally pinned against numpy eigh on a spiked
well-conditioned fixture in ``tests/test_pca.py``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import intlin as IL
from . import route

_Q20 = 1 << IL.Q_COORD
_Q35 = 1 << (IL.Q_COORD + IL.Q_VEC)


def int_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[int, list[int], list[list[int]], int]:
    """ONE Arrow pass → exact integer second moments ``(n, s, G,
    max|xi|)``
    with ``s_j = Σ xi_j``, ``G_jk = Σ xi_j·xi_k``, ``xi =
    floor(x·2^20)`` (float32→double exact, power-of-two multiply
    exact, so the quantization is the ONLY rounding). Per-partition
    partials accumulate in int64 with an overflow audit (rows ·
    max|xi|² must stay under 2^63 — raise with remediation instead of
    wrapping); the driver reduces the ≤ num_partitions partials in
    unbounded Python ints."""
    import numpy as np

    def partials(it: Iterator) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        n, s, g, ma = 0, None, None, 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            xi = np.floor(x * _Q20).astype(np.int64)
            n += xi.shape[0]
            ma = max(ma, int(np.abs(xi).max(initial=0)))
            if ma and n > (1 << 63) // (ma * ma):
                raise ValueError(
                    "int_moments: partition too large for exact int64 "
                    f"moment partials (rows={n}, max|xi|={ma}); "
                    "repartition the input to smaller partitions or "
                    "rescale coordinates below |x| < 2"
                )
            s = xi.sum(axis=0) if s is None else s + xi.sum(axis=0)
            gg = xi.T @ xi
            g = gg if g is None else g + gg
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "pid": [TaskContext.get().partitionId()],
                "n": [n],
                "s": [s.tolist()],
                "g": [g.reshape(-1).tolist()],
                "ma": [ma],
            }
        )

    rows = (
        df.select(vec_col)
        .mapInPandas(
            partials,
            "pid int, n long, s array<long>, g array<long>, ma long",
        )
        .collect()
    )
    if not rows:
        raise ValueError("pca: empty input")
    d = len(rows[0].s)
    n = 0
    maxq = 1
    s = [0] * d
    g = [[0] * d for _ in range(d)]
    for r in rows:
        n += r.n
        maxq = max(maxq, int(r.ma))
        for j, v in enumerate(r.s):
            s[j] += int(v)
        flat = r.g
        for i in range(d):
            base = i * d
            gi = g[i]
            for j in range(d):
                gi[j] += int(flat[base + j])
    return n, s, g, maxq


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = 4, iters: int = 16
) -> dict:
    """Fit a PCA model; returns ``{"mean", "components",
    "explained_variance", "total_variance", "n"}`` (plain-python,
    broadcast-safe) plus the exact integer state ``{"w_int", "s_int",
    "offsets"}`` the oracle-replayable projection uses."""
    n, s, g, maxq = int_moments(df, vec_col)
    d = len(s)
    if not 1 <= k <= d:
        raise ValueError(f"k={k} outside [1, {d}]")
    if n < 2:
        raise ValueError("pca_fit: need >= 2 vectors")
    import math

    cp = IL.scatter(n, s, g)
    comps = IL.power_components(cp, k, iters)
    q40 = float(1 << IL.Q_MAT)
    qv = float(1 << IL.Q_VEC)
    trace = sum(cp[j][j] for j in range(d))
    # unit-normalization: the integer iterate w is max-coordinate
    # scaled; dividing by ‖w‖ = sqrt(wᵀw)/2^15 restores the classic
    # PCA contract (projection = (x−μ)·unit_c). sqrt and division are
    # correctly rounded on identical operands in every engine, so the
    # normalized floats stay bit-replayable.
    norms = [math.sqrt(float(c["rq_den"])) / qv for c in comps]
    # int64 projection-fold audit against the OBSERVED quantized
    # magnitude (r9 advice: the "d·2^20·2^15 ≪ int64" comment silently
    # assumed |x| ≤ 1): per-row pcq ≤ d · max|xi| · max|w| must stay
    # inside int64 for the scoring data the fit has seen.
    mw = max(max(abs(v) for v in c["w"]) for c in comps)
    if d * maxq * mw >= 1 << 62:
        raise ValueError(
            f"pca_fit: observed max|quantized x|={maxq} with component "
            f"magnitude max|w|={mw} would overflow the int64 projection "
            "fold — rescale coordinates"
        )
    return {
        # every float below is derived from exact ints by the SAME
        # correctly-rounded op sequence the DuckDB twin uses
        "mean": [float(v) / n / float(_Q20) for v in s],
        "components": [
            [wj / qv / norms[i] for wj in c["w"]]
            for i, c in enumerate(comps)
        ],
        "explained_variance": [
            float(c["rq_num"]) / float(c["rq_den"]) / n / (n - 1) / q40
            for c in comps
        ],
        "total_variance": float(trace) / n / (n - 1) / q40,
        "n": int(n),
        "w_int": [c["w"] for c in comps],
        "s_int": s,
        "norms": norms,
        "max_abs_q": maxq,
        "offsets": [
            float(sum(s[j] * c["w"][j] for j in range(d)))
            / n
            / float(_Q35)
            / norms[i]
            for i, c in enumerate(comps)
        ],
    }


def pca_pcq_cols(model: dict, vec_col: str | Column) -> list[Column]:
    """The EXACT integer projections: one int64 column per component,
    ``pcq_c = Σ_j floor(x_j·2^20)·w_cj`` — a JVM fold over ints,
    shuffle-free, and bit-reproducible on any engine (the DuckDB twin
    computes the same sum). ``pc_c = pcq_c/2^35/‖w_c‖ − offset_c``.
    CONTRACT: the fit audits the int64 bound d·max|x_q|·max|w| < 2^62
    against the OBSERVED quantized magnitude (``model["max_abs_q"]``);
    it certifies scoring data from the fitted distribution — wilder
    inputs need a caller-side re-audit."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    zero = F.lit(0).cast("long")
    cols = []
    for c, w in enumerate(model["w_int"]):
        wlit = F.array(*[F.lit(int(v)).cast("long") for v in w])
        prod = F.zip_with(
            vec,
            wlit,
            lambda x, wj: F.floor(x.cast("double") * F.lit(float(_Q20)))
            .cast("long")
            * wj,
        )
        cols.append(
            F.aggregate(prod, zero, lambda acc, v: acc + v).alias(
                f"pcq{c + 1}"
            )
        )
    return cols


def pca_project_cols(model: dict, vec_col: str | Column) -> list[Column]:
    """One JVM column per principal component: ``(x − μ)·ĉ_c`` as
    ``pcq_c/2^35/‖w_c‖ − offset_c`` — integer fold (exact), one
    power-of-two division (exact), one correctly-rounded division by
    the component norm, and one IEEE subtraction against the
    precomputed normalized ``μ·ĉ`` offset, so the projected double is
    IDENTICAL on every engine and cluster layout."""
    cols = []
    for c, pcq in enumerate(pca_pcq_cols(model, vec_col)):
        pc = pcq.cast("double") / F.lit(float(_Q35)) / F.lit(
            float(model["norms"][c])
        ) - F.lit(float(model["offsets"][c]))
        cols.append(pc.alias(f"pc{c + 1}"))
    return cols


def pca_project(
    df: DataFrame, model: dict, vec_col: str = "embedding"
) -> DataFrame:
    """Append ``pc1..pck`` projection columns (map-side only)."""
    return df.select("*", *pca_project_cols(model, vec_col))


def _pca_prefilter_np(
    emb: DataFrame,
    model: dict,
    k: int,
    shortlist: int,
    query_pred,
    id_col: str,
    vec_col: str,
):
    """Driver route for the coarse-then-rerank ANN: one Arrow collect
    of (id, full vector, JVM-computed ``_pc`` projection, query
    flag), then the exact fold arithmetic for BOTH stages in numpy —
    coarse top-``shortlist`` in PCA space (self excluded, cosine
    desc / neighbor asc), exact full-vector cosine rerank of exactly
    that shortlist, top-``k``. Same guards and fallback conditions as
    ``similarity._cosine_topk_np``."""
    import numpy as np
    from pyspark.sql import types as T

    from .similarity import _fold_dot_rows, _fold_norms, _topk_matrix

    id_t = emb.schema[id_col].dataType
    if not isinstance(
        id_t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    ):
        return None
    flag = query_pred if query_pred is not None else F.lit(True)
    sel = emb.select(
        id_col,
        vec_col,
        F.array(*pca_project_cols(model, vec_col)).alias("_pc"),
        flag.alias("_isq"),
    )
    tbl = route.collect_bounded(sel, route.budget("ann"))
    if tbl is None or tbl.num_rows == 0:
        return None
    plain = route.columns(tbl, [id_col, "_isq"])
    X = _topk_matrix(np, tbl, vec_col)
    P = _topk_matrix(np, tbl, "_pc")
    if plain is None or X is None or P is None:
        return None
    ids, isq = plain[0], plain[1].astype(bool)
    xn = _fold_norms(np, X)
    pn = _fold_norms(np, P)
    if (
        not np.all(np.isfinite(xn))
        or not np.all(np.isfinite(pn))
        or np.any(xn == 0.0)
        or np.any(pn == 0.0)
    ):
        return None

    q_idx = np.nonzero(isq)[0]
    out_q, out_n, out_c, out_r = [], [], [], []
    if q_idx.size:
        coarse = _fold_dot_rows(np, P[q_idx], P) / (
            pn[q_idx][:, None] * pn[None, :]
        )
        for r, qg in enumerate(q_idx):
            mask = ids != ids[qg]  # exclude self
            cand_id, cand_cos = ids[mask], coarse[r][mask]
            if cand_id.size == 0:
                continue
            short = np.nonzero(mask)[0][
                np.lexsort((cand_id, -cand_cos))[:shortlist]
            ]
            ex = _fold_dot_rows(np, X[qg : qg + 1], X[short])[0] / (
                xn[qg] * xn[short]
            )
            order = np.lexsort((ids[short], -ex))[:k]
            for rk, oi in enumerate(order, start=1):
                out_q.append(int(ids[qg]))
                out_n.append(int(ids[short][oi]))
                out_c.append(float(ex[oi]))
                out_r.append(rk)

    from .graph import _np_result_df

    return _np_result_df(
        emb.sparkSession,
        [
            ("query_id", id_t, np.asarray(out_q, dtype=np.int64)),
            ("neighbor_id", id_t, np.asarray(out_n, dtype=np.int64)),
            ("cosine", T.DoubleType(), np.asarray(out_c, dtype=np.float64)),
            ("rank", T.IntegerType(), np.asarray(out_r, dtype=np.int32)),
        ],
    )


def pca_prefilter_topk(
    emb: DataFrame,
    model: dict,
    k: int = 5,
    shortlist: int = 20,
    query_pred=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimensionality-reduced ANN: coarse top-``shortlist`` search in
    the PCA-projected space (d′ ≪ d — the fold cost per candidate
    drops by d/d′), then EXACT cosine rerank of the shortlist on the
    full vectors. The classic recall/throughput dial: shortlist →
    corpus size reproduces the exact result (pinned by test);
    production shortlists trade a measured recall for the cheap
    coarse pass.

    The rerank joins the (queries × shortlist)-row candidate set —
    broadcast — against the full-vector table twice; the corpus is
    never reshuffled. Projection itself is map-side (see
    ``pca_project_cols``)."""
    from pyspark.sql import Window

    from .similarity import dot_fold, with_norm

    # bounded inputs: coarse ranking AND rerank run driver-side from
    # ONE Arrow collect (the _pc projections stay JVM-computed inside
    # that collect, so every coarse score is the identical IEEE
    # value); routing only the coarse half was measured SLOWER — the
    # local coarse table still fed two distributed rerank joins.
    routed = _pca_prefilter_np(
        emb, model, k, shortlist, query_pred, id_col, vec_col
    )
    if routed is not None:
        return routed

    pcs = pca_project_cols(model, vec_col)
    # keep the original columns so query_pred can reference any of
    # them; cosine_topk applies the predicate BEFORE the candidate
    # join, so only the query subset pays the coarse ranking
    proj = emb.select("*", F.array(*[c for c in pcs]).alias("_pc"))
    from .similarity import cosine_topk

    coarse = cosine_topk(
        proj, k=shortlist, query_pred=query_pred, id_col=id_col, vec_col="_pc"
    )
    full = with_norm(emb, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), F.col("_norm")
    )
    pairs = (
        coarse.select("query_id", "neighbor_id")
        .join(
            full.select(
                F.col("_id").alias("query_id"),
                F.col("_v").alias("_qv"),
                F.col("_norm").alias("_qn"),
            ),
            "query_id",
        )
        .join(
            full.select(
                F.col("_id").alias("neighbor_id"),
                F.col("_v").alias("_cv"),
                F.col("_norm").alias("_cn"),
            ),
            "neighbor_id",
        )
    )
    cos = dot_fold(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
