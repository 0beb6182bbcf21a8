"""One kernel per algorithm: the vocabulary ranking runs on
``prefixsum.running_sum`` and dedup's duplicate clusters on
``graph.connected_components``. These pin what the shared kernels
must deliver to those callers: dense ids equal to a single-partition
rank at a vocabulary size where the range boundaries matter, and the
connected-components fixpoint past graph's default round count."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from databridge_etl_tools_spark.operators import dedup as DD
from databridge_etl_tools_spark.operators import graph as G
from databridge_etl_tools_spark.operators import materialize as MZ
from databridge_etl_tools_spark.operators import route
from databridge_etl_tools_spark.operators.vocab import build_vocab

GRAPH_BUDGET = route.BUDGETS["graph"][0]


def test_build_vocab_ids_equal_single_partition_rank(spark):
    """~80k synthetic docs over ~26.7k distinct tokens (many tied
    counts): every id is dense and equals ``row_number() OVER (ORDER
    BY count DESC, token) - 1`` computed in one partition."""
    n_tokens = 26_700
    word = lambda i: F.concat(  # noqa: E731
        F.lit("t"), F.pmod(F.xxhash64("id", i), F.lit(n_tokens)).cast("string")
    )
    words = F.transform(F.sequence(F.lit(0), F.lit(4)), word)
    docs = spark.range(80_000).select(F.array_join(words, " ").alias("text"))
    got = sorted(tuple(r) for r in build_vocab(docs).collect())

    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .coalesce(1)
    )
    rank = F.row_number().over(Window.orderBy(F.desc("count"), "token")) - 1
    twin = sorted(
        (r.token, r.token_id, r["count"])
        for r in counts.select("token", rank.alias("token_id"), "count").collect()
    )
    assert len(twin) > 26_000
    assert sorted(t[1] for t in got) == list(range(len(twin)))
    assert got == twin


@pytest.mark.parametrize("budget", [None, "0"])
def test_dedup_components_reach_fixpoint_past_default_rounds(spark, monkeypatch, budget):
    """A 20-node chain is longer than graph's default 6 rounds: with
    the driver route and without, every chain node gets the chain's
    minimum id and a vertex with no pair labels itself."""
    if budget is None:
        monkeypatch.delenv(GRAPH_BUDGET, raising=False)
    else:
        monkeypatch.setenv(GRAPH_BUDGET, budget)
    chain = list(range(1, 21))
    edges = spark.createDataFrame(
        [(a, a + 1) for a in chain[:-1]], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame([(v,) for v in chain + [99]], "doc_id long")
    out = DD.connected_components(vertices, edges, id_col="doc_id")
    assert out.columns == ["doc_id", "component"]
    assert dict(map(tuple, out.collect())) == {**{v: 1 for v in chain}, 99: 99}


def test_graph_components_stop_at_first_unchanged_round(spark, monkeypatch):
    """``iters`` is an upper bound: on a 3-node path the distributed
    loop checkpoints at most 3 rounds of 50 (labels settle in 2, the
    3rd changes nothing), with the labels of ``iters=3``."""
    monkeypatch.setenv(GRAPH_BUDGET, "0")
    rounds = []
    real = MZ.materialize

    def spy(df, *args, **kwargs):
        if kwargs.get("cut_lineage"):
            rounds.append(df)
        return real(df, *args, **kwargs)

    und = [(1, 2), (2, 3)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], "src long, dst long")
    monkeypatch.setattr(MZ, "materialize", spy)
    got = sorted(map(tuple, G.connected_components(edges, iters=50).collect()))
    assert 1 <= len(rounds) <= 3
    monkeypatch.setattr(MZ, "materialize", real)
    assert got == sorted(map(tuple, G.connected_components(edges, iters=3).collect()))
    assert got == [(1, 1), (2, 1), (3, 1)]
