"""Optimized physical layouts for the query tables (SCALE.md's
layout story made executable): build once per scale factor, then every
registry-backed query transparently reads the optimized copy.

Three layouts, each targeting the dominant cost of a query family:

- **Facts bucketed by orderkey** (lineitem, orders): co-bucketed
  ``bucketBy(n, key)`` catalog tables make every fact-fact equi-join
  (region_revenue, shipping_priority, upsert/merge family) shuffle-
  free — the bucketed scan already satisfies the join's required
  distribution. At 100 TB this is THE lever: the orderkey shuffle is
  the single biggest data movement in the TPC-H-shaped queries.
- **Events partitioned by day**: ``partitionBy(day(ts))`` directory
  layout → time-ranged scans prune whole days at the file listing
  (real pipelines filter events by ingest window; the partition
  column is dropped on read so query-facing schema is unchanged).
- **Embeddings partitioned by IVF cell**: the ivf_build assignment
  written as the directory key → cell-restricted ANN probes read only
  their cell's files (cosine_topk(cell_col=...) and the cogrouped
  vectorized path co-locate for free).

Results are identical to the raw-parquet path by construction — the
builders only reorganize bytes; the DuckDB oracle keeps reading raw
parquet, so the correctness gate cross-checks the layouts too.

The five builders (the three above, documents by language and the
bucketed purchase-edge table) are independent: each reads raw sources
only (``spark.read.parquet``, or ``registry.table`` after popping its
own layout) and never a layout another builder registers, so
:func:`build_all` runs them concurrently as jobs of one application.

Builds are CACHED: each layout records its source file's
(mtime, size) + build params in a ``_LAYOUT_META.json`` marker; a
rebuild with an unchanged source re-registers the existing copy
(bucketed tables re-enter a fresh session's catalog via
``CREATE TABLE ... CLUSTERED BY ... LOCATION``) and writes nothing —
the production cadence (bucket once per load, read many) in miniature.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import registry

_MARKER = "_LAYOUT_META.json"


def _token(sf_dir: str) -> str:
    return re.sub(r"[^a-z0-9]+", "_", sf_dir.rstrip("/").lower()).strip("_")


def default_out_dir(sf_dir: str) -> str:
    """Stable per-SF scratch location so repeated builds can reuse."""
    return os.path.join(tempfile.gettempdir(), f"spark_graft_layout_{_token(sf_dir)}")


def _source_sig(path: str, **params) -> dict:
    st = os.stat(path)
    return {"src": path, "mtime": st.st_mtime, "size": st.st_size, **params}


def _marker_fresh(marker_path: str, sig: dict) -> bool:
    try:
        with open(marker_path) as f:
            return json.load(f) == sig
    except (OSError, ValueError):
        return False


def _write_marker(marker_path: str, sig: dict) -> None:
    with open(marker_path, "w") as f:
        json.dump(sig, f)


def build_bucketed_facts(
    spark: SparkSession, sf_dir: str, buckets: int | None = None
) -> list[str]:
    """Write lineitem+orders as co-bucketed catalog tables on the
    orderkey and register them as the layout for ``sf_dir``. Returns
    the table names (caller owns DROP TABLE lifetime).

    Bucket count defaults to the cluster parallelism: each bucket is
    one scan partition, so too few buckets throttles every scan of
    the table, not just the joins (at 1000 executors you'd size this
    to a few× total cores, balanced against file count)."""
    if buckets is None:
        buckets = spark.sparkContext.defaultParallelism
    names = []
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tname = f"{tbl}_bkt_{_token(sf_dir)}"
        src = f"{sf_dir.rstrip('/')}/{tbl}.parquet"
        loc = f"{wh}/{tname}"
        sig = _source_sig(src, buckets=buckets, key=key)
        if _marker_fresh(os.path.join(loc, _MARKER), sig):
            # cached build: re-enter the (session-scoped, in-memory)
            # catalog without touching data — bucketing metadata lives
            # in the catalog entry, so it must be re-declared
            if not spark.catalog.tableExists(tname):
                ddl = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in spark.read.parquet(src).schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {tname} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {buckets} BUCKETS LOCATION '{loc}'"
                )
        else:
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            shutil.rmtree(loc, ignore_errors=True)
            df = spark.read.parquet(src)
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                # external table (explicit path): DROP TABLE forgets
                # the catalog entry but keeps the files + marker, so
                # the next session re-registers instead of rewriting
                .option("path", loc)
                .saveAsTable(tname)
            )
            _write_marker(os.path.join(loc, _MARKER), sig)
        registry.register_layout(
            sf_dir, tbl, lambda spark, tname=tname: spark.table(tname), kind="bucketed"
        )
        names.append(tname)
    return names


def build_events_by_day(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Write events partitioned by calendar day; the layout provider
    serves the original schema (partition column dropped, original
    column order restored)."""
    registry.LAYOUT.pop((sf_dir.rstrip("/"), "events"), None)
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    path = f"{out_dir.rstrip('/')}/events_by_day"
    sig = _source_sig(src)
    ev = registry.table(spark, sf_dir, "events")
    cols = ev.columns
    if not _marker_fresh(os.path.join(path, _MARKER), sig):
        ev.withColumn("_day", F.to_date("ts")).write.mode("overwrite").partitionBy(
            "_day"
        ).parquet(path)
        _write_marker(os.path.join(path, _MARKER), sig)
    registry.register_layout(
        sf_dir,
        "events",
        lambda spark, path=path, cols=cols: spark.read.parquet(path).select(*cols),
    )
    return path


def build_embeddings_by_cell(
    spark: SparkSession, sf_dir: str, out_dir: str, k: int = 8, iters: int = 3
) -> str:
    """Write embeddings partitioned by their deterministic k-means IVF
    cell. The provider drops the cell column so query-facing schema is
    unchanged; cell-restricted probes that rebuild the same
    deterministic cells get partition-aligned data placement."""
    from .operators.similarity import ivf_build

    registry.LAYOUT.pop((sf_dir.rstrip("/"), "embeddings"), None)
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    path = f"{out_dir.rstrip('/')}/embeddings_by_cell"
    sig = _source_sig(src, k=k, iters=iters, algo="kmeans-fp40")
    emb = registry.table(spark, sf_dir, "embeddings")
    cols = emb.columns
    if not _marker_fresh(os.path.join(path, _MARKER), sig):
        indexed = ivf_build(emb, k=k, iters=iters)
        indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
        _write_marker(os.path.join(path, _MARKER), sig)
    registry.register_layout(
        sf_dir,
        "embeddings",
        lambda spark, path=path, cols=cols: spark.read.parquet(path).select(*cols),
    )
    return path


def build_documents_by_lang(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Write documents partitioned by language; the provider restores
    the original column order so the query-facing schema is unchanged.
    The corpus-curation family is lang-stratified end to end (per-lang
    gates, stratified samples, mixture branches ``WHERE lang = …``) —
    with this layout each branch prunes to its language's files at
    listing time instead of scanning the whole corpus. Language
    cardinality is tiny and document counts per language are balanced
    enough that partition sizes stay sane; at 100 TB the same layout
    would sub-partition by a hash bucket within lang."""
    registry.LAYOUT.pop((sf_dir.rstrip("/"), "documents"), None)
    src = f"{sf_dir.rstrip('/')}/documents.parquet"
    path = f"{out_dir.rstrip('/')}/documents_by_lang"
    sig = _source_sig(src)
    docs = registry.table(spark, sf_dir, "documents")
    cols = docs.columns
    if not _marker_fresh(os.path.join(path, _MARKER), sig):
        docs.write.mode("overwrite").partitionBy("lang").parquet(path)
        _write_marker(os.path.join(path, _MARKER), sig)
    registry.register_layout(
        sf_dir,
        "documents",
        lambda spark, path=path, cols=cols: spark.read.parquet(path).select(*cols),
    )
    return path


def build_purchase_edges(
    spark: SparkSession, sf_dir: str, buckets: int | None = None
) -> str:
    """Write the customer↔supplier purchase-graph edge table (the
    graph the pagerank/BFS demos iterate over — both directions of
    every distinct trading pair, node ids namespaced even/odd) as a
    catalog table BUCKETED BY src — the pagerank docstring's own
    100 TB story made physical: each of the fixpoint's per-iteration
    contrib joins (ranks ⋈ edges ON node = src) consumes the bucketed
    scan with NO edge-side exchange (the scan's HashPartitioning(src)
    already satisfies the join's required distribution; plan-pinned
    in tests/test_layout.py), so an iteration's only shuffle is the
    unavoidable dst-keyed mass aggregation. The graph is DERIVED
    (orders ⋈ lineitem), so this is also a one-time cut of the build
    join that the operator would otherwise checkpoint per run —
    bucket once per load, iterate many."""
    if buckets is None:
        buckets = spark.sparkContext.defaultParallelism
    tname = f"purchase_edges_bkt_{_token(sf_dir)}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    loc = f"{wh}/{tname}"
    src_o = f"{sf_dir.rstrip('/')}/orders.parquet"
    src_l = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    sig = _source_sig(
        src_o, buckets=buckets, lineitem=_source_sig(src_l), schema="src_dst_w"
    )
    if _marker_fresh(os.path.join(loc, _MARKER), sig):
        if not spark.catalog.tableExists(tname):
            spark.sql(
                f"CREATE TABLE {tname} (src BIGINT, dst BIGINT, w BIGINT) "
                f"USING parquet CLUSTERED BY (src) SORTED BY (src) "
                f"INTO {buckets} BUCKETS LOCATION '{loc}'"
            )
    else:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(loc, ignore_errors=True)
        ord_ = spark.read.parquet(src_o).select("o_orderkey", "o_custkey")
        li = spark.read.parquet(src_l).select("l_orderkey", "l_suppkey")
        # one row per (cust, supp) per direction, with the trade count
        # as weight — the unweighted consumer prunes w at the scan,
        # the weighted walk reads it pre-summed (edges_ready contract)
        pairs = (
            ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
            .groupBy(
                (F.col("o_custkey") * 2).alias("cust_node"),
                (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        edges = pairs.select(
            F.col("cust_node").alias("src"),
            F.col("supp_node").alias("dst"),
            "w",
        ).unionByName(
            pairs.select(
                F.col("supp_node").alias("src"),
                F.col("cust_node").alias("dst"),
                "w",
            )
        )
        (
            edges.write.mode("overwrite")
            .bucketBy(buckets, "src")
            .sortBy("src")
            .option("path", loc)
            .saveAsTable(tname)
        )
        _write_marker(os.path.join(loc, _MARKER), sig)
    registry.register_layout(
        sf_dir,
        "purchase_edges",
        lambda spark, tname=tname: spark.table(tname),
        kind="bucketed",
    )
    return tname


def build_all(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> None:
    """Build (or reuse) every layout for ``sf_dir`` (bench/startup
    hook). ``out_dir`` defaults to a stable per-SF scratch dir so
    repeated invocations rebuild nothing when sources are unchanged.

    The builders are independent, so they run concurrently through
    ``util.in_parallel``: their jobs overlap in one application and
    the build takes about as long as its slowest builder. Each builder
    reads raw sources only, never a layout another builder registers,
    and changes no session conf another builder's results depend on
    (the events read sets ``nanosAsLong``, which touches only
    TIMESTAMP(NANOS) columns, and only events has one); a new builder
    must keep both rules. Every builder finishes before the first
    failure, in argument order, propagates."""
    from .operators.util import in_parallel

    out = out_dir or default_out_dir(sf_dir)
    os.makedirs(out, exist_ok=True)
    in_parallel(
        lambda: build_bucketed_facts(spark, sf_dir),
        lambda: build_events_by_day(spark, sf_dir, out),
        lambda: build_embeddings_by_cell(spark, sf_dir, out),
        lambda: build_documents_by_lang(spark, sf_dir, out),
        lambda: build_purchase_edges(spark, sf_dir),
    )
