"""End-to-end pipelines (SURVEY §3): load, extract, upsert —
the reference's three top entry points as single DataFrame lineages
with the QA layer woven through.

One scan per staged load: the staged CSV is read under its header's
schema (parsed on the driver, no inference job), and the QA metrics
that need the data — row counts, U+FFFD hits, publish's point and
coordinate counts — ride on the job that writes, as one
``DataFrame.observe`` Observation. Count parity compares those
observed counts with parquet footer row counts (``TableStore.row_count``,
no job), never with a re-count of the table.

Transactionality (V8): ``TableStore.write_checked`` writes the new
segment, checks the observed metrics, and only then flips the
manifest — the create, the drift drop/recreate, the truncate or the
append. V8 "validate before the destructive step" holds because
nothing is committed until every check passes: a failure leaves the
previous version (manifest, commit log, properties) exactly as it
was, and the unreferenced segment for ``vacuum`` — the reference's
commit-on-success / rollback-on-error context manager
(postgres/postgres.py:113-149) without explicit rollback code. The
checks that need no scan (V5 fields, the bounded V6 geometry sample)
still run before the write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import datetimes as DTF
from ..functions import geometry as G
from ..functions.text import normalize_headers
from ..operators import merge as M
from ..operators import route
from ..qa import QAReport
from ..schema import TableSchema
from ..sources.csv_io import LATIN1, REPLACEMENT_CHAR, read_csv, replacement_flag, write_csv
from ..sources.table_store import TableStore

#: helper columns carried to the observed write, dropped before it:
#: a staged row's U+FFFD flag, and (upsert) each kept key's staged
#: row and U+FFFD counts
_BAD, _N, _NBAD = "_qa_fffd", "_qa_rows", "_qa_fffd_rows"


# ---------------------------------------------------------------------
# prepare (§3.1 step 4: postgres/postgres.py:280-447 as column exprs)
# ---------------------------------------------------------------------

def prepare_for_load(
    df: DataFrame,
    schema: TableSchema,
    column_mapping: dict[str, str] | None = None,
    exclude_fields: list[str] | None = None,
) -> DataFrame:
    """The reference's ``prepare_file`` petl pipeline, declaratively:

    fromcsv → header normalize/mapping → cutout → geometry fixes
    (NaN repair → force_2d when the target isn't Z → MULTI promotion
    toward the schema's geometry_type) → typed cast per schema.
    """
    df = normalize_headers(df, column_mapping)
    if exclude_fields:
        df = df.drop(*[c.lower() for c in exclude_fields])
    geo = schema.geometry_fields
    for col, meta in geo.items():
        if col not in df.columns:
            continue
        target = (meta.get("geometry_type") or "Geometry").upper()
        expr = G.repair_nan(F.col(col))
        if "Z" not in target.split() and not target.endswith(("Z", "ZM", "M")):
            expr = G.force_2d(expr)
        if target.startswith("MULTI"):
            expr = G.promote_to_multi(expr, target)
        df = df.withColumn(col, expr)
    # typed cast toward the schema (CSV arrives all-string when read
    # schemaless); geometry columns stay strings by construction.
    casts = {}
    for f in schema.struct.fields:
        if f.name in df.columns and f.name not in geo:
            casts[f.name] = F.col(f.name).cast(f.dataType)
    return df.withColumns(casts) if casts else df


def _synthesize_objectid(
    df: DataFrame, schema: TableSchema, store: TableStore, table: str, mode: str
) -> DataFrame:
    """The reference's DB assigns sequential objectids (SDE-managed);
    when the target has one and the CSV doesn't, synthesize ids that
    stay unique ACROSS loads: continue from max(existing)+1 in append
    mode (D11 counter semantics). Ids come from ``util.dense_ids``
    (per-partition counts → cumulative offsets, no global sort and no
    single-partition Exchange), so the assignment survives 100 TB
    loads; continuity and cross-load uniqueness are unchanged."""
    from ..operators.util import dense_ids

    base = 0
    if mode == "append" and store.exists(table):
        cur = store.read(table)
        if "objectid" in cur.columns:
            row = cur.agg(F.max("objectid").alias("m")).first()
            base = int(row["m"] or 0)
    oid_type = next(
        (f.dataType for f in schema.struct.fields if f.name == "objectid"), None
    )
    out = dense_ids(df, base=base, id_col="objectid")
    if oid_type is not None:
        out = out.withColumn("objectid", F.col("objectid").cast(oid_type))
    return out


def _staged_reads(spark: SparkSession, csv_path: str):
    """Yield ``(raw, retry)``: the staged CSV as an all-string frame
    under its header's schema (no Spark job) with the per-row U+FFFD
    flag ``_BAD``, read as UTF-8 and then as latin-1 — the reference's
    whole-file retry (postgres/postgres.py:292-298). The caller writes
    each frame with the flag's count observed and stops at the first
    committed write; ``retry`` says a hit should discard the write and
    move on. A header that does not decode as UTF-8 goes straight to
    latin-1, so only a file with undecodable data is read twice."""
    for encoding in ("utf-8", LATIN1):
        raw = read_csv(spark, csv_path, encoding=encoding, fallback_encoding=None)
        retry = encoding != LATIN1
        if retry and REPLACEMENT_CHAR in "".join(raw.columns):
            continue
        yield raw.withColumn(_BAD, replacement_flag(raw)), retry


def _staged_check(qa: QAReport, obs: Observation, retry: bool, rows: str, name: str):
    """The check a staged write commits under: False (discard, redo as
    latin-1) on observed U+FFFD hits while a retry is left, else V1 on
    the observed row count (raises QAError when zero)."""

    def check() -> bool:
        m = obs.get
        if retry and m["bad"]:
            return False
        qa.nonzero_count(m[rows] or 0, name)
        return True

    return check


# ---------------------------------------------------------------------
# load (§3.1)
# ---------------------------------------------------------------------

@dataclass
class LoadResult:
    rows_loaded: int
    recreated: bool
    qa: QAReport


def load_pipeline(
    spark: SparkSession,
    csv_path: str,
    schema: TableSchema,
    store: TableStore,
    table: str,
    mode: str = "truncate",  # append | truncate | rename_replace
    column_mapping: dict[str, str] | None = None,
    exclude_fields: list[str] | None = None,
    indexes: list[list[str]] | None = None,
) -> LoadResult:
    """S3-CSV → table load (postgres load, §3.1): schema-driven create
    with drift handling, prepare transforms, geometry precheck before
    the destructive step, atomic write (its commit records the analyze
    row count), count parity, index post-hook. A load without
    ``indexes`` commits one manifest flip."""
    if mode not in ("truncate", "append", "rename_replace"):
        raise ValueError(f"unknown load mode: {mode!r}")
    declared_cols = [f.name for f in schema.struct.fields]
    for raw, retry in _staged_reads(spark, csv_path):
        qa = QAReport()
        prepared = prepare_for_load(raw, schema, column_mapping, exclude_fields)
        # the checks that need no full scan run before the write (a
        # failing one must not even stage a segment); the V6 sample
        # reads ``prepared``, which carries no Observation
        qa.schema_fields_match([c for c in prepared.columns if c != _BAD], declared_cols)
        for col, meta in schema.geometry_fields.items():
            if col in prepared.columns:
                qa.geometry_precheck(
                    prepared, col,
                    expected_kind=meta.get("geometry_type"),
                    expected_srid=meta.get("srid"),
                )
        recreated = (mode != "append" or not store.exists(table)) and store.needs_create(table, schema)
        target_cols = declared_cols if recreated else store.read(table).columns
        before = 0 if mode != "append" or recreated else store.row_count(table)

        # the reference's DB auto-generates objectid (SDE-managed); when
        # the target has one and the CSV doesn't, synthesize it rather
        # than silently dropping the column / breaking the append union
        if "objectid" in target_cols and "objectid" not in prepared.columns:
            prepared = _synthesize_objectid(prepared, schema, store, table, mode)
        obs = Observation()
        ordered = (
            prepared.select(*[c for c in target_cols if c in prepared.columns], _BAD)
            .observe(obs, F.count(F.lit(1)).alias("rows"), F.count_if(_BAD).alias("bad"))
            .drop(_BAD)
        )
        check = _staged_check(qa, obs, retry, "rows", "prepared_csv")
        if store.write_checked(
            table, ordered, check,
            append=mode == "append",
            create=schema if recreated else None,
        ):
            break

    n_in = obs.get["rows"]
    qa.count_parity(before + n_in, store.row_count(table), name=f"{mode} load")
    qa.smoke_select(store.read(table), table)

    for cols in indexes or []:
        store.register_index(table, cols)
    qa.raise_if_failed()
    return LoadResult(rows_loaded=n_in, recreated=recreated, qa=qa)


# ---------------------------------------------------------------------
# extract (§3.2)
# ---------------------------------------------------------------------

def eastern_offset_rendered(col: str) -> F.Column:
    """Render a naive-Eastern timestamp as ISO text with the UTC
    offset — the visible effect of the reference's tz localization on
    extracted CSVs (postgres/postgres.py:841-857)."""
    ntz = F.col(col).cast("timestamp_ntz")
    utc = DTF.localize_naive_eastern(ntz)
    off_min = F.timestamp_diff("MINUTE", utc, ntz)  # -300 (EST) / -240 (EDT)
    sign = F.when(off_min < 0, F.lit("-")).otherwise(F.lit("+"))
    hh = F.lpad((F.abs(off_min) / 60).cast("int").cast("string"), 2, "0")
    mm = F.lpad((F.abs(off_min) % 60).cast("string"), 2, "0")
    return F.when(
        F.col(col).isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.concat(F.date_format(ntz, "yyyy-MM-dd HH:mm:ss"), sign, hh, F.lit(":"), mm)
    )


@dataclass
class ExtractResult:
    rows: int
    csv_path: str
    schema_json: str
    qa: QAReport


def extract_pipeline(
    spark: SparkSession,
    store: TableStore,
    table: str,
    out_csv: str,
    exclude_fields: list[str] | None = None,
    localize_timestamps: bool = True,
) -> ExtractResult:
    """Table → CSV + JSON schema extract (§3.2): count asserts before
    and after the write (the footer row count of the state read,
    against the rows the write observed), Eastern localization of
    naive timestamps, exclusion drops, schema JSON sidecar (the
    extract-json-schema command)."""
    qa = QAReport()
    df = store.read(table)
    n_before = qa.nonzero_count(store.row_count(table), table)
    if localize_timestamps:
        for f in df.schema.fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                df = df.withColumn(f.name, eastern_offset_rendered(f.name))
    if exclude_fields:
        df = df.drop(*exclude_fields)
    obs = Observation()
    write_csv(df.observe(obs, F.count(F.lit(1)).alias("rows")), out_csv)
    qa.count_parity(n_before, obs.get["rows"], name="post-extract recount")

    props = store.properties(table)
    geo_props = props.get("geometry", {})
    fields = []
    for f in store.read(table).schema.fields:
        if f.name not in df.columns:
            continue
        # withColumn/parquet round-trips drop StructField metadata;
        # geometry facts live in table properties — re-attach them so
        # the schema sidecar keeps geometry_type/srid.
        if f.name in geo_props:
            meta = {k: v for k, v in geo_props[f.name].items() if v is not None}
            f = T.StructField(f.name, f.dataType, f.nullable, metadata=meta)
        fields.append(f)
    tschema = TableSchema(struct=T.StructType(fields), primary_key=props.get("primaryKey", []))
    qa.raise_if_failed()
    return ExtractResult(rows=n_before, csv_path=out_csv, schema_json=tschema.to_json(), qa=qa)


# ---------------------------------------------------------------------
# opendata publish (SURVEY §7.2 step 9: F17 + F18 + F13 + K6 composed)
# ---------------------------------------------------------------------

def publish_opendata(
    spark: SparkSession,
    store: TableStore,
    table: str,
    out_dir: str,
    geom_col: str = "shape",
    exclude_fields: list[str] | None = None,
    default_srid: int | None = None,
) -> QAReport:
    """The opendata publish composition (opendata/opendata.py): repair
    corrupt SRIDs, reproject point geometry to EPSG:4326, derive
    lat/lng columns, drop the geometry, write CSV + gzip artifact.

    Reprojection is per-row CASE over the (repaired) SRID — all
    column expressions, so mixed-SRID tables publish in one pass. The
    point and SRID are parsed once into internal columns that the
    CASE branches reference, so the regex parse is not copied into
    every branch of the generated code.
    Covered CRS: 4326 and 4269 (NAD83 lon-lat ≈ WGS84 at the cm level
    absorbed by the reference's nudge), 2272, 3857; bare WKT assumes
    ``default_srid``. Rows whose SRID is outside that set publish
    with NULL coordinates and are COUNTED in the QA report (visible,
    not silent).
    """
    from ..functions import geoproj as GP

    qa = QAReport()
    qa.nonzero_count(store.row_count(table), table)
    df = store.read(table)
    obs = None
    if geom_col in df.columns:
        srid = G.remap_bad_srid(G.srid_of(geom_col))
        if default_srid is not None:
            srid = F.coalesce(srid, F.lit(default_srid))
        px, py = G.point_to_lon_lat(F.col(geom_col))
        df = df.withColumns({"_pub_x": px, "_pub_y": py, "_pub_srid": srid})
        x, y, srid = F.col("_pub_x"), F.col("_pub_y"), F.col("_pub_srid")
        lcc_lon, lcc_lat = GP.pa_south_ft_to_lonlat(x, y)
        merc_lon, merc_lat = GP.webmercator_to_lonlat(x, y)
        lonlat_passthrough = srid.isin(4326, 4269)
        lng = (
            F.when(lonlat_passthrough, x)
            .when(srid == 2272, lcc_lon)
            .when(srid == 3857, merc_lon)
        )
        lat = (
            F.when(lonlat_passthrough, y)
            .when(srid == 2272, lcc_lat)
            .when(srid == 3857, merc_lat)
        )
        # visibility (not fatality): source points and the coordinates
        # they published, counted by the CSV write itself — a point
        # whose SRID is unsupported publishes NULLs
        obs = Observation()
        df = (
            df.withColumns({"lng": lng, "lat": lat})
            .observe(
                obs,
                F.count_if(F.col(geom_col).rlike(r"POINT\s*\(")).alias("points"),
                F.count_if(F.col("lng").isNotNull()).alias("published"),
            )
            .drop(geom_col, "_pub_x", "_pub_y", "_pub_srid")
        )
    if exclude_fields:
        df = df.drop(*exclude_fields)
    write_csv(df, out_dir)
    # K6 gzip artifact: re-encode from the already-written CSV, read
    # under the schema it was written with, so the reproject lineage
    # runs once, not per artifact, and no header inference runs
    written = T.StructType([T.StructField(c, T.StringType()) for c in df.columns])
    published = spark.read.options(header=True).schema(written).csv(out_dir)
    write_csv(published, out_dir + "_gz", gzip=True)
    if obs is not None:
        m = obs.get
        qa.metric(
            "published_coordinates",
            f"points={m['points']} published={m['published']} "
            f"unsupported_srid={m['points'] - m['published']}",
        )
    qa.smoke_select(published, "published")
    return qa.raise_if_failed()


# ---------------------------------------------------------------------
# upsert + delete-stale (§3.3 / J1-J3)
# ---------------------------------------------------------------------

@dataclass
class UpsertResult:
    staged: int
    final_count: int
    qa: QAReport


def upsert_pipeline(
    spark: SparkSession,
    csv_path: str,
    schema: TableSchema,
    store: TableStore,
    table: str,
    delete_stale_rows: bool = False,
    column_mapping: dict[str, str] | None = None,
) -> UpsertResult:
    """CSV → staging → set-based merge on the primary key (J2+J1),
    optional delete-stale (J3). One bulk join replaces the reference's
    per-row AGO queries (ago/ago.py:760-885) — same observable
    semantics: add new, update matched, drop staging duplicates,
    optionally delete rows missing from staging."""
    if not schema.primary_key:
        raise ValueError("upsert requires a primaryKey in the schema")
    keys = list(schema.primary_key)
    for raw, retry in _staged_reads(spark, csv_path):
        qa = QAReport()
        staging = prepare_for_load(raw, schema, column_mapping)
        prod = store.read(table)
        if (
            "objectid" in prod.columns
            and "objectid" not in staging.columns
            and "objectid" not in keys
        ):
            # AGO oid-swap semantics (ago/ago.py:830-838): matched keys
            # keep their existing objectid; new keys continue the counter.
            # New ids are densely numbered per partition (util.dense_ids —
            # no single-partition sort); matched rows then override with
            # their existing oid, so fresh ids may have gaps where keys
            # matched (the counter only ever moves forward — same behavior
            # as a DB sequence under conflicting inserts).
            from ..operators.util import dense_ids

            keymap = prod.select(*keys, F.col("objectid").alias("_oid"))
            staging = staging.join(keymap, keys, "left")
            base = int(prod.agg(F.max("objectid").alias("m")).first()["m"] or 0)
            oid_type = next(
                (f.dataType for f in prod.schema.fields if f.name == "objectid"), None
            )
            staging = dense_ids(
                staging.localCheckpoint(eager=False), base=base, id_col="_fresh"
            )
            staging = staging.withColumn(
                "objectid", F.coalesce(F.col("_oid"), F.col("_fresh").cast(oid_type))
            ).drop("_oid", "_fresh")
        missing = set(prod.columns) - set(staging.columns)
        if missing:
            # fail with a V5-style message instead of an unresolved-column
            # AnalysisException deep inside the merge plan
            qa.schema_fields_match([c for c in staging.columns if c != _BAD], prod.columns)
            qa.raise_if_failed()
        cols = [c for c in prod.columns if c in staging.columns]
        # deterministic winner among duplicate-PK staging rows: total
        # order over the non-key column values (identical duplicates tie
        # harmlessly; differing ones always resolve the same way). The
        # one dedupe also counts each key's staged rows and U+FFFD hits,
        # so the metrics observed on the merged write count every staged
        # row once, however many branches of the merge read the keys.
        tiebreak = [F.col(c) for c in cols if c not in keys] or [F.lit(1)]
        by_key = Window.partitionBy(*keys)
        staged = M.dedupe_by_key(
            staging.select(
                *cols,
                F.count(F.lit(1)).over(by_key).alias(_N),
                F.sum(F.col(_BAD).cast("long")).over(by_key).alias(_NBAD),
            ),
            keys,
            tiebreak,
        )
        if delete_stale_rows:
            # upsert-then-delete-stale keeps exactly the staged keys, so
            # its result IS the de-duplicated staging: every table row is
            # either replaced by its staged row or stale. A row whose key
            # has a NULL matches no key and drops out (below, after the
            # metrics have counted it). No table row is read.
            merged = staged
        else:
            untagged = prod.withColumns({_N: F.lit(0).cast("long"), _NBAD: F.lit(0).cast("long")})
            merged = M.upsert(untagged, staged, keys)
        obs = Observation()
        merged = merged.observe(
            obs,
            F.sum(_N).alias("staged"),
            F.sum(_NBAD).alias("bad"),
            F.count_if(F.col(_N) > 0).alias("keys"),
        ).drop(_N, _NBAD)
        if delete_stale_rows:
            merged = merged.dropna(subset=keys)
        if store.write_checked(table, merged, _staged_check(qa, obs, retry, "staged", "staging")):
            break

    m = obs.get
    final = store.row_count(table)
    if delete_stale_rows:
        qa.count_parity(m["keys"], final, "stale-deleted")
    qa.smoke_select(store.read(table), table)
    qa.raise_if_failed()
    return UpsertResult(staged=m["staged"], final_count=final, qa=qa)


# ---------------------------------------------------------------------
# incremental corpus dedup vs a persisted signature store (r11)
# ---------------------------------------------------------------------

@dataclass
class IncrementalDedupResult:
    committed: bool
    n_batch: int
    n_kept: int
    n_dup_store: int
    n_dup_batch: int
    store_size: int


def incremental_dedup_pipeline(
    store: TableStore,
    table: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    epoch_id: int,
    epoch_scope: str | None = None,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> IncrementalDedupResult:
    """The growing-corpus dedup choreography: MinHash-screen a new
    batch against the persisted ``(doc, sig)`` signature store
    (``operators.dedup.incremental_minhash_dedup``), then append the
    SURVIVORS' signatures exactly-once via ``TableStore.append_epoch``
    (O(delta): only the survivors' segment is written, never a store
    rewrite) — a replayed epoch (same ``epoch_scope`` + ``epoch_id``,
    e.g. a retried micro-batch or a re-run orchestrator task) is
    detected by the store's scoped epoch watermark and skipped before
    any write, so signatures are never double-inserted; epochs from a
    DIFFERENT checkpoint/run identity are never mistaken for replays
    (streaming passes the scope ``streaming.events.drain_fenced``
    derives). (The replay's SCREEN runs against the current store —
    which already holds the batch's own signatures, so its counts
    read all-duplicate; idempotence lives at the commit, exactly as
    in Delta's txnVersion recipe.)

    State stays bounded: k int64 + one id per KEPT document — the
    store grows with the deduplicated corpus, never with the raw
    crawl. The batch screen's only shuffles are two (band, key)
    equi-joins (batch side small/broadcastable; persist the store
    banded+bucketed on (band, key) at full scale)."""
    spark = batch.sparkSession
    if store.exists(table):
        sigs = store.read(table)
    else:
        sigs = route.driver_frame(spark, [], "doc bigint, sig array<bigint>")
    from ..operators.dedup import incremental_minhash_dedup

    status = incremental_minhash_dedup(
        batch, sigs, id_col, text_col, n=n, k=k, bands=bands, threshold=threshold
    ).localCheckpoint()
    counts = {
        r["status"]: r["n"]
        for r in status.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    survivors = status.filter(F.col("status") == "kept").select("doc", "sig")
    # O(delta) commit: the store grows by the survivors' segment only
    # (append_epoch flips old-segments+[delta] with the watermark in
    # one atomic manifest replace) — at 100 TB the signature store is
    # corpus-sized and a per-batch rewrite would be the bottleneck.
    committed = store.append_epoch(table, survivors, epoch_id, scope=epoch_scope)
    return IncrementalDedupResult(
        committed=committed,
        n_batch=sum(counts.values()),
        n_kept=counts.get("kept", 0),
        n_dup_store=counts.get("dup_store", 0),
        n_dup_batch=counts.get("dup_batch", 0),
        store_size=store.read(table).count(),
    )


# ---------------------------------------------------------------------
# incremental decontamination vs a persisted benchmark n-gram store (r12)
# ---------------------------------------------------------------------

@dataclass
class DecontamScreenResult:
    n_batch: int
    n_clean: int
    n_contaminated: int
    store_grams: int


def register_benchmark_epoch(
    store: TableStore,
    table: str,
    bench: DataFrame,
    *,
    epoch_id: int,
    epoch_scope: str | None = None,
    n: int = 7,
) -> bool:
    """Ingest one benchmark WAVE into the persisted n-gram store
    exactly-once: the wave's distinct 60-bit gram hashes
    (``operators.dedup.benchmark_gram_hashes``) merge into the
    ``(gram_h, epoch)`` table keeping each gram's EARLIEST wave, and
    the whole merge commits through ``TableStore.commit_epoch`` — a
    replayed wave (same ``epoch_id``: retried micro-batch, re-run
    orchestrator task) is detected by the epoch watermark and skipped
    before any write, so the store never double-ingests. Returns
    False on a skipped replay. The store stays benchmark-sized: one
    int64 + one epoch per distinct gram across all waves."""
    spark = bench.sparkSession
    from ..operators.dedup import benchmark_gram_hashes

    new = benchmark_gram_hashes(bench, n=n).select(
        "gram_h", F.lit(epoch_id).cast("long").alias("epoch")
    )
    if store.exists(table):
        cur = store.read(table)
        merged = (
            cur.unionByName(new)
            .groupBy("gram_h")
            .agg(F.min("epoch").alias("epoch"))
        )
    else:
        merged = new
    return store.commit_epoch(table, merged, epoch_id, scope=epoch_scope)


def screen_batch_against_store(
    store: TableStore,
    table: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 7,
) -> "tuple[DataFrame, DecontamScreenResult]":
    """Screen a crawl batch against the persisted benchmark store
    (``operators.dedup.decontaminate_vs_store``) and return the
    per-document verdict table plus summary counts. Pure read path —
    screening never mutates the store, so retries are naturally
    idempotent; only :func:`register_benchmark_epoch` writes."""
    from ..operators.dedup import decontaminate_vs_store

    grams = store.read(table)
    verdicts = decontaminate_vs_store(
        batch, grams, text_col, id_col, n=n
    ).localCheckpoint()
    counts = {
        r["clean"]: r["n"]
        for r in verdicts.groupBy("clean")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return verdicts, DecontamScreenResult(
        n_batch=sum(counts.values()),
        n_clean=counts.get(True, 0),
        n_contaminated=counts.get(False, 0),
        store_grams=grams.count(),
    )
