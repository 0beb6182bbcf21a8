"""Optimized-layout proofs on the ACTUAL gate queries: build the
bucketed/partitioned copies, point the registry at them, and assert
(a) the real query plans lose their fact-fact shuffle / gain partition
pruning, and (b) results are identical to the raw-parquet path."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from databridge_etl_tools_spark import layout, registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def with_layout(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout"))
    tables = layout.build_bucketed_facts(spark, SF)
    layout.build_events_by_day(spark, SF, out)
    layout.build_embeddings_by_cell(spark, SF, out)
    yield spark
    registry.clear_layouts()
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _rows(spark, name):
    return {tuple(r) for r in ent.queries()[name](spark, SF).collect()}


def test_region_revenue_bucketed_join_drops_fact_shuffle(with_layout):
    spark = with_layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ent.queries()["region_revenue"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the lineitem⋈orders orderkey join reads co-bucketed scans:
        # no Exchange may repartition either fact side on the orderkey
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_gate_queries_identical_on_layout(with_layout):
    spark = with_layout
    on_layout = {
        name: _rows(spark, name)
        for name in ("region_revenue", "upsert_orders", "dedupe_events_by_user",
                     "ann_cosine_topk")
    }
    saved = dict(registry.LAYOUT)
    registry.clear_layouts()
    try:
        for name, got in on_layout.items():
            assert got == _rows(spark, name), f"{name} diverged on layout"
    finally:
        registry.LAYOUT.update(saved)


def test_events_day_layout_prunes_partitions(with_layout, tmp_path_factory):
    spark = with_layout
    import glob

    base = glob.glob(str(tmp_path_factory.getbasetemp() / "layout*" / "events_by_day"))
    assert base, "partitioned events dir missing"
    # a day predicate on the partition column prunes at file listing
    df = spark.read.parquet(base[0]).where(F.col("_day") == "2024-01-03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan
    assert "_day" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the layout-served frame has the original query-facing schema
    served = registry.table(spark, SF, "events")
    assert "_day" not in served.columns


def test_embeddings_cell_layout_serves_identical_schema(with_layout):
    spark = with_layout
    via_layout = registry.table(spark, SF, "embeddings")
    registry_backup = dict(registry.LAYOUT)
    registry.clear_layouts()
    try:
        raw = registry.table(spark, SF, "embeddings")
        assert via_layout.columns == raw.columns
        assert via_layout.count() == raw.count()
    finally:
        registry.LAYOUT.update(registry_backup)


def test_layout_build_is_cached(spark, tmp_path):
    """A second build with unchanged sources writes nothing: the
    bucketed tables re-register from their markers, the partitioned
    dirs keep their file mtimes."""
    import glob
    import os

    out = str(tmp_path / "cache_out")
    os.makedirs(out, exist_ok=True)
    tables = layout.build_bucketed_facts(spark, SF)
    p_events = layout.build_events_by_day(spark, SF, out)
    try:
        files = sorted(glob.glob(p_events + "/**/*.parquet", recursive=True))
        mtimes = [os.path.getmtime(f) for f in files]

        # drop the catalog entries to emulate a fresh session
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        tables2 = layout.build_bucketed_facts(spark, SF)
        p2 = layout.build_events_by_day(spark, SF, out)
        assert tables2 == tables and p2 == p_events
        files2 = sorted(glob.glob(p_events + "/**/*.parquet", recursive=True))
        assert files2 == files
        assert [os.path.getmtime(f) for f in files2] == mtimes

        # the re-registered bucketed table still joins shuffle-free
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = ent.queries()["region_revenue"](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(l_orderkey" not in plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        registry.clear_layouts()
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_documents_lang_layout_prunes_partitions(spark, tmp_path):
    out = str(tmp_path)
    layout.build_documents_by_lang(spark, SF, out)
    try:
        # a lang predicate prunes at file listing on the layout copy
        df = spark.read.parquet(f"{out}/documents_by_lang").where(
            F.col("lang") == "en"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters:" in plan
        assert "lang" in plan.split("PartitionFilters:")[1].split("]")[0]
        # layout-served frame: original schema/order, identical rows
        served = registry.table(spark, SF, "documents")
        backup = dict(registry.LAYOUT)
        registry.clear_layouts()
        try:
            raw = registry.table(spark, SF, "documents")
            assert served.columns == raw.columns
            assert {tuple(r) for r in served.collect()} == {
                tuple(r) for r in raw.collect()
            }
        finally:
            registry.LAYOUT.update(backup)
    finally:
        registry.clear_layouts()


def test_purchase_edges_bucketed_iteration_join_no_edge_exchange(spark):
    """The pagerank contrib join (checkpointed node-keyed ranks ⋈
    edges ON node = src) must consume the bucketed purchase-edge
    layout with NO edge-side exchange: vs the same join over raw
    edges, the bucketed plan has exactly one fewer Exchange and
    reads a bucketed scan."""
    from databridge_etl_tools_spark.operators.materialize import materialize

    tname = layout.build_purchase_edges(spark, SF)
    try:
        eb = spark.table(tname)
        raw = materialize(eb)  # same rows, bucketing lost
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plans = {}
            for label, e in (("bucketed", eb), ("raw", raw)):
                ranks = materialize(
                    e.groupBy(F.col("src").alias("node")).agg(
                        F.count(F.lit(1)).alias("rank_q")
                    )
                )
                contrib = (
                    ranks.join(e, ranks["node"] == e["src"])
                    .groupBy("dst")
                    .agg(F.sum("rank_q").alias("in_q"))
                )
                plans[label] = (
                    contrib._jdf.queryExecution().executedPlan().toString()
                )
            assert "Bucketed: true" in plans["bucketed"]
            n_b = plans["bucketed"].count("Exchange")
            n_r = plans["raw"].count("Exchange")
            assert n_b == n_r - 1, (n_b, n_r)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        registry.clear_layouts()
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_pagerank_bucketed_layout_identical_ranks(spark):
    """pagerank over the bucketed edges_ready layout must produce
    bit-identical rank_q to the raw-edge build, in BOTH join regimes
    (the integer fixpoint is layout-invariant)."""
    from databridge_etl_tools_spark.operators.graph import pagerank

    want = {
        (r["node"], r["rank_q"])
        for r in _raw_purchase_ranks(spark).collect()
    }
    tname = layout.build_purchase_edges(spark, SF)
    try:
        eb = spark.table(tname)
        for budget in (2_000_000, 0):  # broadcast + shuffle regimes
            got = {
                (r["node"], r["rank_q"])
                for r in pagerank(
                    eb, iters=8, edges_ready=True,
                    broadcast_node_budget=budget,
                ).collect()
            }
            assert got == want, budget
    finally:
        registry.clear_layouts()
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def _raw_purchase_ranks(spark):
    from databridge_etl_tools_spark.operators.graph import pagerank

    ord_ = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cust_node"),
        (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    return pagerank(edges, iters=8)


# -- build_all: the five builders run concurrently ---------------------

BUILDERS = (
    "build_bucketed_facts",
    "build_events_by_day",
    "build_embeddings_by_cell",
    "build_documents_by_lang",
    "build_purchase_edges",
)


def _bucketed_tables():
    tok = layout._token(SF)
    return [f"{t}_bkt_{tok}" for t in ("lineitem", "orders", "purchase_edges")]


def _forget_layouts(spark, wipe=False):
    """Clear the registry and the catalog entries of the bucketed
    tables (a fresh session); ``wipe`` also deletes their files, so
    the next build writes instead of reusing."""
    registry.clear_layouts()
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in _bucketed_tables():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wipe:
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)


def _layout_snapshot(spark):
    """{layout key: (kind, sorted row reprs)} of every registered layout."""
    return {
        key: (kind, sorted(repr(tuple(r)) for r in provider(spark).collect()))
        for key, (provider, kind) in registry.LAYOUT.items()
    }


def _files_mtimes(*roots):
    files = sorted(
        f for r in roots for f in glob.glob(f"{r}/**/*", recursive=True)
        if os.path.isfile(f)
    )
    return {f: os.path.getmtime(f) for f in files}


def test_build_all_equals_builders_one_at_a_time(spark, tmp_path):
    _forget_layouts(spark, wipe=True)
    try:
        seq_out = str(tmp_path / "seq")
        layout.build_bucketed_facts(spark, SF)
        layout.build_events_by_day(spark, SF, seq_out)
        layout.build_embeddings_by_cell(spark, SF, seq_out)
        layout.build_documents_by_lang(spark, SF, seq_out)
        layout.build_purchase_edges(spark, SF)
        want = _layout_snapshot(spark)

        _forget_layouts(spark, wipe=True)
        layout.build_all(spark, SF, str(tmp_path / "par"))
        got = _layout_snapshot(spark)
        assert sorted(got) == sorted(want)
        assert {k for k, _ in got} == {SF}
        assert {k[1] for k in got} == {
            "lineitem", "orders", "events", "embeddings", "documents",
            "purchase_edges",
        }
        for key in want:
            assert got[key][0] == want[key][0], key
            assert got[key][1] == want[key][1], f"{key} rows differ"
    finally:
        _forget_layouts(spark)


def test_build_all_raises_after_other_builders_return(spark, tmp_path, monkeypatch):
    returned = []

    class Boom(RuntimeError):
        pass

    def boom(*a, **k):
        raise Boom("embeddings builder failed")

    for name in BUILDERS:
        if name == "build_embeddings_by_cell":
            monkeypatch.setattr(layout, name, boom)
            continue

        def wrapped(*a, _real=getattr(layout, name), _name=name, **k):
            time.sleep(0.5)  # still running when the failure is raised
            out = _real(*a, **k)
            returned.append(_name)
            return out

        monkeypatch.setattr(layout, name, wrapped)
    try:
        with pytest.raises(Boom, match="embeddings builder failed"):
            layout.build_all(spark, SF, str(tmp_path))
        assert sorted(returned) == sorted(set(BUILDERS) - {"build_embeddings_by_cell"})
    finally:
        _forget_layouts(spark)


def test_build_all_jobs_carry_caller_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "layout-build-all-test"
    _forget_layouts(spark, wipe=True)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "build_all under a caller job group")
    try:
        layout.build_all(spark, SF, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        _forget_layouts(spark)
    # every builder wrote, each with at least one job, all in the group
    assert len(tracker.getJobIdsForGroup(group)) >= len(BUILDERS)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_build_all_cached_rebuild_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "layout")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    locs = [f"{wh}/{t}" for t in _bucketed_tables()]
    _forget_layouts(spark, wipe=True)
    try:
        layout.build_all(spark, SF, out)
        first = set(registry.LAYOUT)
        mtimes = _files_mtimes(out, *locs)
        assert mtimes

        _forget_layouts(spark)  # a fresh session: registry and catalog empty
        layout.build_all(spark, SF, out)
        assert set(registry.LAYOUT) == first and len(first) == 6
        assert all(spark.catalog.tableExists(t) for t in _bucketed_tables())
        assert _files_mtimes(out, *locs) == mtimes
    finally:
        _forget_layouts(spark)
