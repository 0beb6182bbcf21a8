"""Parquet-backed table store with the reference's lifecycle
semantics (SURVEY §2.6 D1-D6, §2.9 V8).

The reference manages Postgres tables: create-from-JSON-schema with
drift-driven drop/recreate (D1), temp empty clones (D2), drop (D3),
truncate (D4/D5), blue/green rename swap (D6), all inside one
transaction per load (postgres/postgres.py:113-149). Here a "table"
is a versioned parquet directory; every mutation writes a NEW
version directory and flips a manifest pointer last — the atomic-swap
pattern (what Delta's CREATE OR REPLACE does transactionally on a
real lakehouse; this store is the dependency-free local analogue and
the unit under test for the pipelines).

Scale notes: version directories are plain parquet datasets —
readers at any parallelism scan them directly; the manifest flip is
one tiny file rename, never a data rewrite of the old version. Every
flip records the table's Spark schema (and so does its commit-log
entry), so planning a read of any state costs no Spark job: no footer
inference, just a driver-side file listing under the recorded schema.
An empty table (fresh ``create_table``, ``truncate``) has no data
segment at all — its state is an empty segment list plus the schema,
and it reads as a zero-row scan of no files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import TableSchema, schema_drift


def _segs(entry: dict) -> list[str]:
    """Segment list of a manifest or commit-log entry. ``current`` is
    a single name for tables written before incremental appends
    existed — served as a one-segment list (manifest migration is
    read-side, never a rewrite)."""
    cur = entry["current"]
    return [cur] if isinstance(cur, str) else list(cur)


def _nullable(dt: T.DataType) -> T.DataType:
    """The type Spark writes to (and reads back from) parquet: every
    field, array element and map value nullable, field metadata kept —
    what ``spark.read.parquet`` reports for a frame of type ``dt``."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _create_args(schema: "TableSchema | T.StructType") -> "tuple[T.StructType, dict]":
    """Struct and table properties a create commits: a TableSchema
    carries its primary key and geometry facts."""
    if isinstance(schema, TableSchema):
        return schema.struct, {"primaryKey": schema.primary_key, "geometry": schema.geometry_fields}
    return schema, {}


def _check_commit(op: str, table: str, commit: int, n: int) -> int:
    """Bounds-check a commit-log index (0-based; negative indexes from
    the end, -1 = current) so an out-of-range CLI argument raises the
    store's ValueError style with the valid range, not a bare
    IndexError traceback."""
    if not -n <= commit < n:
        raise ValueError(
            f"{op}: {table} has no commit {commit} "
            f"(valid range: {-n}..{n - 1}, {n} commit(s) in the log)"
        )
    return commit


class TableStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths / manifest ------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest(self, table: str) -> str:
        return os.path.join(self._dir(table), "MANIFEST.json")

    def _read_manifest(self, table: str) -> dict:
        with open(self._manifest(table)) as f:
            return json.load(f)

    def _segments(self, table: str) -> list[str]:
        """Version directories making up the current table state, in
        commit order (empty for an empty table)."""
        return _segs(self._read_manifest(table))

    def _schema(self, table: str, entry: "dict | None" = None) -> T.StructType:
        """Spark schema of the current state, or of a manifest /
        commit-log ``entry``: recorded by the commit, so no job. An
        entry written before schemas were recorded is inferred from
        its segments' footers (one Spark job); the table's next commit
        records it."""
        entry = self._read_manifest(table) if entry is None else entry
        if "schema" in entry:
            return T.StructType.fromJson(entry["schema"])
        paths = [os.path.join(self._dir(table), s) for s in _segs(entry)]
        return self.spark.read.option("mergeSchema", "true").parquet(*paths).schema

    def _scan(self, table: str, segs: "list[str]", schema: T.StructType) -> DataFrame:
        """The store's one read: ``segs`` scanned under ``schema``.
        Planning lists the segment directories on the driver and
        starts no job; a column a pre-evolution segment lacks reads as
        NULL; no segments (an empty table) is a zero-row scan."""
        base = self._dir(table)
        return self.spark.read.schema(schema).parquet(*[os.path.join(base, s) for s in segs])

    def _current_data_dir(self, table: str) -> str:
        segs = self._segments(table)
        if len(segs) != 1:
            raise ValueError(
                f"table {self._dir(table)} has {len(segs)} segments; "
                f"use read()/compact()"
            )
        return os.path.join(self._dir(table), segs[0])

    def _write_version(self, table: str, df: DataFrame) -> str:
        version = f"v-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._dir(table), version)
        df.write.mode("errorifexists").parquet(path)
        return version

    def _flip(
        self,
        table: str,
        version: str | list[str],
        props: dict | None = None,
        schema: T.StructType | None = None,
    ) -> None:
        """Atomic pointer flip: write manifest to a temp name, rename
        over the old one (rename is atomic on POSIX; on a real
        lakehouse this is the Delta/Iceberg commit). ``version`` may
        be a segment LIST — the incremental-append commit: the new
        manifest references old segments + the delta, no data moves.

        ``schema`` is the committed state's Spark schema (the written
        frame's, recorded as parquet stores it: all nullable); None
        keeps the current one. Manifest and log entry both carry it,
        so reads of any commit plan without inference."""
        os.makedirs(self._dir(table), exist_ok=True)
        old = {}
        if os.path.exists(self._manifest(table)):
            old = self._read_manifest(table)
        if schema is None:  # keep the current schema; a first commit infers its own
            schema = self._schema(table, old or {"current": version})
        schema = _nullable(schema).jsonValue()
        doc = {
            "current": version,
            "schema": schema,
            "properties": {**old.get("properties", {}), **(props or {})},
        }
        tmp = self._manifest(table) + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self._manifest(table))
        # commit log (append-only, crash-tolerant: a torn tail line is
        # skipped on read) — what history()/read_version() time-travel
        # over. Written AFTER the flip: the log may lag the manifest by
        # one commit in a crash, never lead it.
        with open(os.path.join(self._dir(table), "_commits.jsonl"), "a") as f:
            f.write(json.dumps({"current": version, "schema": schema}) + "\n")

    # -- lifecycle (D1-D6) ----------------------------------------------
    def exists(self, table: str) -> bool:
        return os.path.exists(self._manifest(table))

    def create_table(
        self,
        table: str,
        schema: TableSchema | T.StructType,
        recreate_on_drift: bool = True,
    ) -> bool:
        """D1: create an empty table from a schema. If it exists and
        the live schema drifted, drop + recreate (the reference's
        policy, postgres/postgres.py:454-488). Returns True when a
        (re)create happened."""
        if not self.needs_create(table, schema):
            return False
        struct, props = _create_args(schema)
        if self.exists(table):
            if not recreate_on_drift:
                raise ValueError(f"schema drift on {table}: {schema_drift(struct, self._schema(table))}")
            self.drop(table)
        self._flip(table, [], props, struct)  # empty: no data segment
        return True

    def needs_create(self, table: str, schema: TableSchema | T.StructType) -> bool:
        """True when :meth:`create_table` would (re)create ``table``:
        it is missing, or its live schema drifted from ``schema``.
        Reads the recorded schema only — no job, no commit."""
        return not self.exists(table) or bool(
            schema_drift(_create_args(schema)[0], self._schema(table))
        )

    def drop(self, table: str, if_exists: bool = True) -> None:
        """D3: drop table (log-or-error policy, postgres.py:921-946)."""
        if not self.exists(table):
            if if_exists:
                return
            raise ValueError(f"table {table} does not exist")
        shutil.rmtree(self._dir(table))

    def truncate(self, table: str) -> None:
        """D4/D5: keep schema, remove rows — a flip to the empty
        segment list, no data written (joins the 'transaction' in the
        sense that readers see either the old state or the empty one,
        never a half state)."""
        self._flip(table, [])

    def overwrite(
        self, table: str, df: DataFrame, select_users: list[str] | None = None
    ) -> None:
        """D6: blue/green replace — write the full new version, flip
        the pointer (reference: _temp table + rename swap,
        carto/carto_.py:443-457, postgres/postgres.py:750-756).

        ``select_users`` records SELECT grants in the SAME flip that
        publishes the data, mirroring the reference's swap transaction
        (carto_.py:417-427 builds GRANT statements into the
        BEGIN..COMMIT of the rename swap): readers never observe the
        new version without its grants."""
        v = self._write_version(table, df)
        props = {"grants": {"select": select_users}} if select_users is not None else None
        self._flip(table, v, props, df.schema)

    def append(self, table: str, df: DataFrame, evolve: bool = False) -> None:
        """K1 append, O(delta): write ONLY the new rows as a fresh
        segment and commit old-segments+[delta] in one manifest flip.
        Nothing already on disk is read or rewritten — at 100 TB an
        append costs the delta, not the table. Readers see the old or
        the new segment list atomically; ``compact`` bin-packs the
        accumulated segments back into one.

        ``evolve=True`` allows ADDITIVE schema evolution (the Delta
        mergeSchema contract): new columns append with the delta,
        old segments read them as NULL. Dropping or retyping columns
        stays a drift-recreate (D1) — never silent."""
        delta, evolved = self._append_delta(table, df, evolve)
        v = self._write_version(table, delta)
        self._flip(table, self._segments(table) + [v], schema=evolved)

    def _append_delta(
        self, table: str, df: DataFrame, evolve: bool
    ) -> "tuple[DataFrame, T.StructType]":
        """``df`` in the live column order (additive columns last) and
        the schema the append commits; raises before any write when
        ``df`` lacks a live column, or adds one without ``evolve``."""
        schema = self._schema(table)
        cols = schema.fieldNames()
        missing = set(cols) - set(df.columns)
        if missing:
            raise ValueError(f"append to {table} missing columns: {sorted(missing)}")
        extra = [c for c in df.columns if c not in set(cols)]
        if extra and not evolve:
            raise ValueError(
                f"append to {table} adds columns {extra}; pass evolve=True "
                f"for additive schema evolution"
            )
        evolved = T.StructType(schema.fields + [df.schema[c] for c in extra])
        return df.select(*cols, *extra), evolved

    def write_checked(
        self,
        table: str,
        df: DataFrame,
        check: "Callable[[], bool]",
        *,
        append: bool = False,
        create: "TableSchema | T.StructType | None" = None,
    ) -> bool:
        """Write ``df`` as a new segment, run ``check``, and commit only
        if it passes — the entry point for loads whose QA reads metrics
        observed on this very write (``DataFrame.observe``), so the
        data is scanned once. Nothing is committed before ``check``
        passes, so a failed check leaves the table as it was (V8).

        - ``check()`` returns True: one manifest flip commits the
          segment. With ``create`` the table is (re)created with that
          schema in the same flip (D1: a drifted table is dropped, all
          but the new segment, and its commit log restarts); else with
          ``append`` the segment joins the live list; else it replaces
          the state. The flip also records the committed state's
          ``rowcount`` (the :meth:`analyze` statistic, from parquet
          footers), so a load needs no second commit for it. Returns
          True.
        - ``check()`` returns False: the segment is deleted and nothing
          is committed; the caller redoes the write. Returns False.
        - ``check()`` raises: nothing is committed — manifest, commit
          log and properties stay byte-identical — and the unreferenced
          segment is left for :meth:`vacuum` (deleted instead when the
          table does not exist, as there is nothing to vacuum)."""
        existed = self.exists(table)
        schema = df.schema
        if append and create is None:
            df, schema = self._append_delta(table, df, evolve=False)
        v = self._write_version(table, df)
        try:
            ok = check()
        except BaseException:
            if not existed:
                self._discard(table, v)
            raise
        if not ok:
            self._discard(table, v)
            return False
        rows = self._segment_rows(table, v)
        if create is not None:
            if existed:
                self._clear(table, keep=v)
            self._flip(table, v, {**_create_args(create)[1], "rowcount": rows}, schema)
        elif append:
            rows += self.row_count(table)
            self._flip(table, self._segments(table) + [v], {"rowcount": rows}, schema)
        else:
            self._flip(table, v, {"rowcount": rows}, schema)
        return True

    def _discard(self, table: str, version: str) -> None:
        """Delete an uncommitted segment, and the table directory when
        that leaves it empty (a table that never committed)."""
        shutil.rmtree(os.path.join(self._dir(table), version))
        try:
            os.rmdir(self._dir(table))
        except OSError:
            pass

    def _clear(self, table: str, keep: str) -> None:
        """:meth:`drop` that keeps one (uncommitted) segment: the
        manifest goes first, so readers see the table absent, never
        half-deleted."""
        os.remove(self._manifest(table))
        for entry in os.listdir(self._dir(table)):
            if entry != keep:
                path = os.path.join(self._dir(table), entry)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)

    def read(self, table: str) -> DataFrame:
        """The current state, planned from the recorded schema: no
        Spark job until an action. Additively-evolved columns read as
        NULL from pre-evolution segments; an empty table is a zero-row
        scan of no files."""
        m = self._read_manifest(table)
        return self._scan(table, _segs(m), self._schema(table, m))

    def history(self, table: str) -> "list[dict]":
        """The table's commit log, oldest first: one entry per manifest
        flip (`{"current": version-or-segment-list, "schema": ...}`;
        entries written before schemas were recorded have no
        ``schema``). The local twin of DESCRIBE HISTORY on a lakehouse
        table."""
        path = os.path.join(self._dir(table), "_commits.jsonl")
        if not os.path.exists(path):
            return []
        out = []
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # torn tail line from a crash mid-append
        return out

    def read_version(self, table: str, commit: int) -> DataFrame:
        """Time travel: read the table as of commit ``commit`` (0-based
        into ``history()``; negative indexes from the end, -1 = current).
        Version directories are immutable, so any commit whose data
        ``vacuum`` has not yet removed is readable; a vacuumed commit
        raises. The local twin of `VERSION AS OF`."""
        log = self.history(table)
        if not log:
            raise ValueError(f"read_version: {table} has no commit log")
        entry = log[_check_commit("read_version", table, commit, len(log))]
        segs = _segs(entry)
        base = self._dir(table)
        missing = [s for s in segs if not os.path.exists(os.path.join(base, s))]
        if missing:
            raise ValueError(
                f"read_version: commit {commit} data vacuumed: {missing}"
            )
        return self._scan(table, segs, self._schema(table, entry))

    def restore(self, table: str, commit: int) -> None:
        """Roll the table back to commit ``commit`` (indexes like
        ``read_version``): one manifest flip to the old, still-immutable
        version directories — no data rewrite, and the restore itself
        becomes a new commit in the log (so a restore is auditable and
        itself restorable). Raises if the target commit's data was
        vacuumed."""
        log = self.history(table)
        if not log:
            raise ValueError(f"restore: {table} has no commit log")
        entry = log[_check_commit("restore", table, commit, len(log))]
        base = self._dir(table)
        missing = [s for s in _segs(entry) if not os.path.exists(os.path.join(base, s))]
        if missing:
            raise ValueError(f"restore: commit {commit} data vacuumed: {missing}")
        self._flip(table, entry["current"], schema=self._schema(table, entry))

    def empty_clone_view(self, table: str, view_name: str) -> DataFrame:
        """D2: CREATE TEMPORARY TABLE … WHERE 1=0
        (postgres/postgres.py:903-919) as a limit(0) temp view."""
        df = self.read(table).limit(0)
        df.createOrReplaceTempView(view_name)
        return df

    def properties(self, table: str) -> dict:
        return self._read_manifest(table).get("properties", {})

    def set_properties(self, table: str, **props) -> None:
        m = self._read_manifest(table)
        self._flip(table, m["current"], props)

    def register_index(self, table: str, columns: list[str], kind: str = "btree") -> None:
        """D8 analogue: indexes become layout hints in properties
        (on a lakehouse: bucketBy/Z-ORDER); recorded, never failing
        the load (reference policy, postgres/postgres.py:190-229).
        An entry already registered is skipped, so a repeated
        truncate or append load with the same ``indexes`` commits
        nothing new."""
        idx = self.properties(table).get("indexes", [])
        entry = {"columns": list(columns), "kind": kind}
        if entry in idx:
            return
        self.set_properties(table, indexes=idx + [entry])

    def compact(self, table: str, target_partitions: int | None = None) -> int:
        """D9/OPTIMIZE analogue: rewrite the current version with a
        right-sized file count (append mode accretes small files; at
        scale this is the bin-packing compaction every lakehouse
        runs). Returns the new partition count; an empty table has no
        data segment to pack, so it commits nothing and returns 0."""
        if not self._segments(table):
            return 0
        df = self.read(table)
        if target_partitions is None:
            # ~128MB files assuming parquet compresses the in-memory
            # estimate ~4x; floor of 1
            from pathlib import Path

            nbytes = sum(
                f.stat().st_size
                for seg in self._segments(table)
                for f in Path(self._dir(table), seg).glob("*.parquet")
            )
            target_partitions = max(1, nbytes // (128 << 20))
        out = df.repartition(target_partitions)
        v = self._write_version(table, out)
        self._flip(table, v)  # single segment again
        return target_partitions

    def vacuum(self, table: str) -> list[str]:
        """Delete version directories no manifest references (old
        blue/green versions, compacted-away segments) — Delta VACUUM's
        job. Safe ordering: the manifest flipped away from these dirs
        atomically before they became candidates, so no reader that
        started after the flip can hold them open. Returns the
        removed version names."""
        live = set(self._segments(table))
        removed = []
        for entry in sorted(os.listdir(self._dir(table))):
            if entry.startswith("v-") and entry not in live:
                shutil.rmtree(os.path.join(self._dir(table), entry))
                removed.append(entry)
        return removed

    def reset_objectid_counter(self, table: str, objectid_col: str = "objectid") -> int:
        """D11 semantics: after a load into an id-managed table, the
        reference resets the SDE objectid sequence to max(objectid)
        (postgres/postgres.py:758-777). Here the next id is a table
        property consumers read before assigning new ids."""
        from pyspark.sql import functions as F

        row = self.read(table).agg(F.max(objectid_col).alias("m")).first()
        nxt = int(row["m"] or 0) + 1
        self.set_properties(table, next_objectid=nxt)
        return nxt

    def analyze(self, table: str) -> dict:
        """D9 VACUUM ANALYZE analogue: recompute row count stats, from
        parquet footers on the driver (no Spark job)."""
        n = self.row_count(table)
        self.set_properties(table, rowcount=n)
        return {"rowcount": n}

    def epoch_seen(
        self, table: str, epoch_id: int, scope: "str | None" = None
    ) -> bool:
        """True when ``(scope, epoch_id)`` is already committed — the
        replay test ``streaming.events.drain_fenced`` runs before any
        work. Spark epoch ids are CHECKPOINT-scoped: a query restarted
        against a FRESH checkpoint (even at the same path) renumbers
        from 0, so an unscoped ``last_epoch >= epoch_id`` compare
        would silently skip genuinely new micro-batches — data loss,
        not replay suppression. The watermark therefore pairs with an
        ``epoch_scope`` (the checkpoint's identity —
        ``streaming.events.checkpoint_identity``): a batch whose scope
        differs from the stored one is never a replay, exactly why
        Delta's recipe keys ``txnVersion`` by ``txnAppId``.

        Watermarks are kept PER SCOPE (``epoch_marks`` map, one slot
        per checkpoint identity — Delta keeps one version per
        txnAppId for the same reason): if a table is fed from two
        checkpoints over its life (failover back to an old checkpoint
        after a new one committed), a genuine replay from the earlier
        scope still fences, because the earlier scope's own high-water
        mark was never overwritten by the later writer.
        ``scope=None`` keeps the legacy unscoped compare (against the
        LATEST writer's watermark, whatever its scope) for batch
        orchestrators that manage their own epoch sequence."""
        if not self.exists(table):
            return False
        if scope is None:
            return self.properties(table).get("last_epoch", -1) >= epoch_id
        return self._epoch_marks(table).get(scope, -1) >= epoch_id

    def _epoch_marks(self, table: str) -> dict:
        """Per-scope epoch high-water marks ``{scope: last_epoch}``
        (scope '' = unscoped/legacy). Tables written before the map
        existed migrate read-side from the single
        ``(epoch_scope, last_epoch)`` slot — never a rewrite."""
        props = self.properties(table)
        marks = props.get("epoch_marks")
        if marks is not None:
            return dict(marks)
        if "last_epoch" in props:
            return {props.get("epoch_scope") or "": props["last_epoch"]}
        return {}

    #: retention cap on per-scope epoch watermarks: scopes beyond the
    #: most recent N are forgotten (Delta bounds txnAppId state by
    #: retention the same way). A sink restarted with fresh
    #: checkpoints accretes one scope per reset; without a cap the
    #: marks map grows with operational history in every manifest.
    EPOCH_SCOPE_RETENTION = 16

    def _epoch_props(
        self, table: str, epoch_id: int, scope: "str | None"
    ) -> dict:
        """Property delta for an epoch commit: the per-scope map plus
        the legacy latest-writer slot (kept for observability — tests
        and ops read ``last_epoch`` as 'how far has this sink got').
        The map keeps insertion order (JSON/dict order is stable), so
        re-inserting the committing scope last makes eviction
        least-recently-WRITTEN-first — a replay fence is only ever
        needed for scopes that can still replay, i.e. recent ones."""
        marks = self._epoch_marks(table) if self.exists(table) else {}
        marks.pop(scope or "", None)
        marks[scope or ""] = epoch_id
        while len(marks) > self.EPOCH_SCOPE_RETENTION:
            oldest = next(iter(marks))
            del marks[oldest]
        return {
            "epoch_marks": marks,
            "last_epoch": epoch_id,
            "epoch_scope": scope,
        }

    def mark_epoch(
        self, table: str, epoch_id: int, scope: "str | None" = None
    ) -> None:
        """Record ``(scope, epoch_id)`` as committed with no data
        change: a property-only flip. For content fences that find a
        batch has nothing to apply (an SCD2 snapshot already applied
        under an earlier checkpoint), so its replay never re-probes."""
        self.set_properties(table, **self._epoch_props(table, epoch_id, scope))

    def commit_epoch(
        self,
        table: str,
        df: DataFrame,
        epoch_id: int,
        scope: "str | None" = None,
        extra_props: "dict | None" = None,
    ) -> bool:
        """Exactly-once commit point for streaming micro-batches:
        the new data version and the epoch watermark flip in ONE
        atomic manifest replace, so a replayed epoch (Spark re-runs a
        failed micro-batch with the same epoch_id) is detected and
        skipped before any write. Returns False on a skipped replay.
        ``scope`` keys the watermark by checkpoint identity (see
        :meth:`epoch_seen`) so epochs from a different run/checkpoint
        are never mistaken for replays.

        This is the same idempotent-sink recipe Delta's
        ``txnAppId``/``txnVersion`` implements on a lakehouse; the
        versioned store makes it a property check. Creates the table
        when absent (first epoch of a fresh sink). ``extra_props``
        ride the SAME atomic flip — the hook content fences (e.g. the
        SCD2 max-applied-date) use so fence and data can never
        diverge."""
        if self.epoch_seen(table, epoch_id, scope):
            return False
        v = self._write_version(table, df)
        self._flip(
            table,
            v,
            {**self._epoch_props(table, epoch_id, scope), **(extra_props or {})},
            df.schema,
        )
        return True

    #: auto-compaction threshold for epoch appends: once a sink table
    #: accretes this many delta segments, the NEXT epoch commit folds
    #: them into one. Planning a read costs no job (the schema is
    #: recorded, never inferred from footers), but every segment is
    #: one more directory to list and at least one more file to open
    #: per scan, so unbounded accretion turns O(delta) writes into
    #: O(segments) reads. An empty table has no segment at all.
    SEGMENT_BUDGET = 32

    #: adaptive data-skipping threshold for :meth:`upsert_epoch`:
    #: below this many accumulated rows the classic full-ledger
    #: probes run (on a small ledger the scans cost less than the
    #: stats build/probe jobs); at or above it, per-segment zone maps
    #: + key blooms prune the probes to the segments that might share
    #: a key. Measured (tools/bloom_bench.py, local[32]): at a
    #: 5k-row ledger the stats path LOSES (~1.1x per-batch cost); at
    #: 2M rows it wins 4.1x (classic 3.78 s/batch vs 0.93) and at
    #: 20M rows 5.4x (5.43 vs 1.01 — the stats cost is
    #: ledger-size-INDEPENDENT, the measured O(delta) claim). The
    #: default sits at the geometric middle of the measured wash
    #: band; on a real cluster ledger scans are remote IO, so this is
    #: conservative. Segments committed below the threshold are
    #: simply stat-less — the first over-threshold commit that must
    #: read them re-covers them, so crossing the threshold
    #: self-heals.
    BLOOM_MIN_ROWS = 100_000

    def append_epoch(
        self,
        table: str,
        delta: DataFrame,
        epoch_id: int,
        scope: "str | None" = None,
        segment_budget: "int | None" = None,
    ) -> bool:
        """O(delta) exactly-once append: write ONLY the delta rows as
        a fresh segment and flip old-segments+[delta] together with
        the epoch watermark in one atomic manifest replace — the
        :meth:`append` cost model under the :meth:`commit_epoch`
        replay contract. At 100 TB a growing sink table (signature
        store, verdict ledger) must pay per batch what the batch
        brought, never a full-table rewrite.

        Segment accretion is BOUNDED: when the table already holds
        ``segment_budget`` (default :attr:`SEGMENT_BUDGET`) segments,
        this commit compacts them together with the delta into one
        segment inside the same atomic flip — amortized O(delta) per
        batch (each row is rewritten once per ``budget`` appends),
        worst-case read amplification capped at ``budget`` segment
        directories per scan (planning still costs no job: the schema
        is recorded). ``vacuum`` reclaims the folded-away
        directories."""
        if self.epoch_seen(table, epoch_id, scope):
            return False
        if not self.exists(table):
            v = self._write_version(table, delta)
            self._flip(table, v, self._epoch_props(table, epoch_id, scope), delta.schema)
            return True
        cols = self._schema(table).fieldNames()
        missing = set(cols) - set(delta.columns)
        if missing:
            raise ValueError(
                f"append_epoch to {table} missing columns: {sorted(missing)}"
            )
        budget = self.SEGMENT_BUDGET if segment_budget is None else segment_budget
        segs = self._segments(table)
        if len(segs) >= budget:
            merged = self.read(table).unionByName(delta.select(*cols))
            v = self._write_version(table, merged)
            self._flip(table, v, self._epoch_props(table, epoch_id, scope))
            return True
        v = self._write_version(table, delta.select(*cols))
        self._flip(
            table,
            segs + [v],
            self._epoch_props(table, epoch_id, scope),
        )
        return True

    def _segment_stats(self, table: str, keys: "list[str]") -> dict:
        """Per-segment key statistics recorded for exactly ``keys``,
        pruned to segments the manifest still references (compaction
        or blue/green flips leave stale entries behind; they are
        ignored here and rewritten away on the next keyed commit).
        Returns ``{segment: {"bloom": sparse-dict | None,
        "range": (lo, hi) | None}}`` — the two prunable statistics:

        - ``range``: the key's min/max zone map (single-column keys;
          exact aggregates, never parquet-stat truncation). Monotone
          ingest — the common 100 TB shape, ever-growing ids — is
          pruned ENTIRELY by ranges: a new batch is beyond every
          segment's max, no bloom machinery needed at all.
        - ``bloom``: a fixed-width key bloom for interleaved keys
          (``sources.bloom``). Only stored for segments small enough
          not to saturate it (:attr:`BLOOM_MAX_KEYS`) — a saturated
          bloom flags everything and only adds cost; an over-sized
          segment keeps its zone map and is otherwise a candidate.

        A probe ANDs whatever is present; a segment with neither
        statistic is always a candidate."""
        from .bloom import bloom_from_json

        props = self.properties(table)
        if props.get("bloom_keys") != list(keys):
            return {}
        blooms = props.get("key_blooms") or {}
        ranges = props.get("key_ranges") or {}
        out = {}
        for s in self._segments(table):
            b = bloom_from_json(blooms[s]) if s in blooms else None
            r = tuple(ranges[s]) if s in ranges else None
            if b is not None or r is not None:
                out[s] = {"bloom": b, "range": r}
        return out

    def _live_blooms(self, table: str, keys: "list[str]") -> dict:
        """Back-compat view of :meth:`_segment_stats`: just the
        blooms."""
        return {
            s: st["bloom"]
            for s, st in self._segment_stats(table, keys).items()
            if st["bloom"] is not None
        }

    def _read_segments(self, table: str, segs: "list[str]") -> DataFrame:
        """Read a SUBSET of a table's segments (the data-skipping
        read: only the segments a key probe could not rule out) under
        the table's schema — columns a segment predates read as
        NULL."""
        return self._scan(table, segs, self._schema(table))

    def row_count(self, table: str) -> int:
        """Row count of the current table state from parquet footer
        metadata, driver-side — no Spark job. Drives the adaptive
        bloom threshold below and the pipelines' count parity; a
        streaming sink calls it every micro-batch, so it must stay a
        metadata read."""
        import pyarrow.parquet as pq

        base = self._dir(table)
        total = 0
        for seg in self._segments(table):
            seg_dir = os.path.join(base, seg)
            for f in os.listdir(seg_dir):
                if f.endswith(".parquet"):
                    total += pq.read_metadata(
                        os.path.join(seg_dir, f)
                    ).num_rows
        return total

    #: saturation guard: a segment with more keys than this (an
    #: eighth of the bloom's bits) would saturate the fixed-width
    #: bloom — every probe would flag it, paying the bloom jobs for
    #: zero pruning. Such segments store only their zone map.
    BLOOM_MAX_KEYS = 16_384

    @staticmethod
    def _range_union(*ranges):
        """Driver-side union of key zone maps; None if any side is
        unknown (a missing statistic can only widen, never prune)."""
        known = [r for r in ranges]
        if any(r is None for r in known) or not known:
            return None
        return (
            min(r[0] for r in known),
            max(r[1] for r in known),
        )

    def _commit_keyed_segments(
        self,
        table: str,
        keep: "list[str]",
        new_df: DataFrame,
        epoch_id: int,
        scope: "str | None",
        keys: "list[str]",
        keep_stats: dict,
        segment_budget: "int | None" = None,
        new_df_materialized: bool = False,
        new_range=None,
        new_rows: "int | None" = None,
    ) -> bool:
        """Commit a keyed epoch as ``keep`` segments + one new
        segment holding ``new_df``, threading both per-segment key
        statistics (see :meth:`_segment_stats`):

        - the new segment's zone map is ``new_range`` — the caller
          computed it inside the probe aggregation it already ran
          (a conservative superset is fine: the batch's range bounds
          any delta derived from it);
        - the new segment's bloom is built from the data ALREADY
          WRITTEN (one read of the new segment only — never a
          recompute of the plan that produced it; when the caller
          knows ``new_df`` is materialized, pass
          ``new_df_materialized=True`` to build it straight off the
          frame and skip the read-back), SKIPPED when ``new_rows``
          says it would saturate (:attr:`BLOOM_MAX_KEYS`);
        - untouched segments' statistics carry over verbatim.

        Folds everything into one segment once ``keep`` reaches the
        segment budget — same amortized O(delta) contract as
        :meth:`append_epoch`. The folded segment's zone map is the
        driver-side union of the folded maps (exact — fold unions key
        sets); its bloom is only built when the fold is small enough
        not to saturate (parquet footer row count, no job)."""
        from .bloom import bloom_build, bloom_to_json

        budget = (
            self.SEGMENT_BUDGET if segment_budget is None else segment_budget
        )
        schema = self._schema(table)
        props = self._epoch_props(table, epoch_id, scope)

        def _stats_props(blooms: dict, ranges: dict) -> dict:
            return {
                **props,
                "key_blooms": {
                    s: bloom_to_json(b) for s, b in blooms.items()
                },
                "key_ranges": {s: list(r) for s, r in ranges.items()},
                "bloom_keys": list(keys),
            }

        if keep and len(keep) >= budget:
            merged = self._read_segments(table, keep).unionByName(new_df)
            v = self._write_version(table, merged)
            fold_range = self._range_union(
                *[keep_stats.get(s, {}).get("range") for s in keep],
                new_range,
            )
            blooms = {}
            if self._segment_rows(table, v) <= self.BLOOM_MAX_KEYS:
                blooms[v] = bloom_build(self._scan(table, [v], schema), keys)
            ranges = {v: fold_range} if fold_range is not None else {}
            self._flip(table, v, _stats_props(blooms, ranges))
            return True

        v = self._write_version(table, new_df)
        blooms = {
            s: st["bloom"]
            for s, st in keep_stats.items()
            if st.get("bloom") is not None
        }
        ranges = {
            s: st["range"]
            for s, st in keep_stats.items()
            if st.get("range") is not None
        }
        n_new = (
            new_rows
            if new_rows is not None
            else self._segment_rows(table, v)
        )
        if n_new <= self.BLOOM_MAX_KEYS:
            bloom_src = (
                new_df
                if new_df_materialized
                else self._scan(table, [v], schema)
            )
            blooms[v] = bloom_build(bloom_src, keys)
        if new_range is not None:
            ranges[v] = new_range
        self._flip(
            table,
            keep + [v] if keep else v,
            _stats_props(blooms, ranges),
        )
        return True

    def _segment_rows(self, table: str, seg: str) -> int:
        """Row count of one segment from parquet footers (driver-
        side, no job)."""
        import pyarrow.parquet as pq

        seg_dir = os.path.join(self._dir(table), seg)
        return sum(
            pq.read_metadata(os.path.join(seg_dir, f)).num_rows
            for f in os.listdir(seg_dir)
            if f.endswith(".parquet")
        )

    def upsert_epoch(
        self,
        table: str,
        batch: DataFrame,
        keys: "list[str]",
        epoch_id: int,
        scope: "str | None" = None,
        staging_order: "list | None" = None,
    ) -> bool:
        """Keyed exactly-once upsert with O(delta) WRITE **and
        bloom-pruned READ** — the commit every keyed streaming sink
        should use. Once the ledger passes :attr:`BLOOM_MIN_ROWS`
        (below it the full-ledger probes are cheaper than the bloom
        jobs — the adaptive crossover, measured in SCALE.md), each
        committed segment carries a bloom of its keys in the manifest
        (``sources.bloom``; the Delta/Iceberg file-statistics
        data-skipping pattern), so the new-key probe tests the batch
        against broadcast blooms first and touches only the segments
        that MIGHT share a key:

        - batch of all-new keys (the common ingest case): no segment
          can match — zero ledger reads, the batch appends as a delta
          segment. Per-batch cost is O(delta) for write AND read.
        - re-sent keys: only the bloom-candidate segments are read
          for the exact changed-row probe; an identical re-send
          contributes no delta, a CHANGED row (or a ``staging_order``
          tiebreak) rewrites ONLY the candidate segments merged with
          the batch — the untouched segments provably share no key
          with the batch (blooms have no false negatives), so the
          partial rewrite preserves key uniqueness exactly.
        - segments without a recorded bloom (pre-bloom tables,
          ``compact()``/blue-green flips) are always candidates; the
          commit that reads them re-covers the table with fresh
          blooms.

        False positives only cost a segment read; exactness never
        depends on the bloom. Intra-batch duplicates with no
        ``staging_order``: IDENTICAL duplicate rows collapse (the
        winner is well defined — at-least-once redelivery landing the
        same row twice in one micro-batch must not kill the sink),
        but CONFLICTING rows for one key RAISE — Postgres ON CONFLICT
        parity: with no tiebreak there is no well-defined winner, and
        silently landing either would break the key-uniqueness
        invariant. Returns False on a replayed ``(scope, epoch_id)``."""
        from pyspark.sql import functions as F

        from ..operators.merge import upsert
        from .bloom import packed_lookup, with_candidate_mask

        if self.epoch_seen(table, epoch_id, scope):
            return False

        def _collapse_or_raise(df: DataFrame) -> DataFrame:
            """The rare dup path: collapse identical duplicate rows;
            raise on a key with two DIFFERENT rows."""
            dd = df.distinct().localCheckpoint()
            conflict = (
                dd.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .collect()
            )
            if conflict:
                k = {c: conflict[0][c] for c in keys}
                raise ValueError(
                    f"upsert_epoch to {table}: conflicting intra-batch "
                    f"rows for key {k} with no staging_order — no "
                    "well-defined winner (ON CONFLICT parity); pass "
                    "staging_order to break ties"
                )
            return dd

        def _resolve_unique(df: DataFrame) -> DataFrame:
            """Collapse identical duplicate rows; raise on a key with
            two DIFFERENT rows. The distinct() runs only on the rare
            dup path — unique batches pay one count probe."""
            has_dup = (
                df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .count()
                > 0
            )
            if not has_dup:
                return df
            return _collapse_or_raise(df)

        if not self.exists(table):
            if staging_order is not None:
                from ..operators.merge import dedupe_by_key

                batch = dedupe_by_key(batch, keys, staging_order)
            else:
                batch = _resolve_unique(batch)
            return self.commit_epoch(table, batch, epoch_id, scope=scope)

        if self.row_count(table) < self.BLOOM_MIN_ROWS:
            # small ledger: the classic full-ledger probes (one
            # changed-row probe + one anti-join) cost less than the
            # bloom machinery; segments stay bloom-less until the
            # table grows past the threshold
            existing = self.read(table)
            batch = batch.select(*existing.columns).localCheckpoint()
            if staging_order is None:
                batch = _resolve_unique(batch)
                changed = batch.exceptAll(existing).join(
                    existing, keys, "left_semi"
                )
                if changed.isEmpty():
                    delta = batch.join(existing, keys, "left_anti")
                    return self.append_epoch(
                        table, delta, epoch_id, scope=scope
                    )
            merged = upsert(existing, batch, keys, staging_order)
            return self.commit_epoch(table, merged, epoch_id, scope=scope)

        cols = self._schema(table).fieldNames()
        batch = batch.select(*cols).localCheckpoint()
        if staging_order is not None:
            # intra-batch tiebreak up front: the all-new fast path
            # appends the batch verbatim, so key uniqueness must
            # already hold (merge.upsert would dedupe again on the
            # rewrite path — deterministic, so double-dedupe is a
            # no-op)
            from ..operators.merge import dedupe_by_key

            batch = dedupe_by_key(batch, keys, staging_order)

        segs = self._segments(table)
        stats = self._segment_stats(table, keys)
        single_key = len(keys) == 1
        covered, uncovered = [], []
        for s in segs:
            st = stats.get(s)
            usable = st is not None and (
                st["bloom"] is not None
                or (st["range"] is not None and single_key)
            )
            (covered if usable else uncovered).append(s)
        bloomed = [s for s in covered if stats[s]["bloom"] is not None]
        probe = batch
        if bloomed:
            lookup = packed_lookup(
                self.spark, [stats[s]["bloom"] for s in bloomed]
            )
            probe = with_candidate_mask(batch, lookup, list(keys))
        bloom_pos = {s: i for i, s in enumerate(bloomed)}
        # per-segment candidacy: AND of whatever statistics the
        # segment carries — the zone-map range test is a pure literal
        # comparison (no join at all; monotone ingest is pruned
        # entirely by it), the bloom test indexes the packed mask
        flag_cols = []
        for j, s in enumerate(covered):
            parts = []
            r = stats[s]["range"]
            if r is not None and single_key:
                parts.append(
                    F.col(keys[0]).between(F.lit(r[0]), F.lit(r[1]))
                )
            if s in bloom_pos:
                parts.append(F.col("__bloom_mask")[bloom_pos[s]])
            cond = parts[0]
            for p in parts[1:]:
                cond = cond & p
            flag_cols.append(F.max(cond.cast("int")).alias(f"s{j}"))
        # ONE aggregation job serves the intra-batch duplicate probe
        # (count vs distinct-key count; a null key can't be counted
        # distinct, so it routes to the careful path too), the
        # per-segment candidacy flags, AND the batch's own key range
        # (the new segment's zone map — free here, a superset bound
        # for any delta derived from the batch) — a streaming sink
        # runs this every micro-batch, and each extra job is pure
        # scheduler floor at that cadence.
        dup_cols = (
            [
                F.count(F.lit(1)).alias("__n"),
                F.count_distinct(*[F.col(k) for k in keys]).alias("__nk"),
            ]
            if staging_order is None
            else []
        )
        range_cols = (
            [
                F.min(keys[0]).alias("__kmin"),
                F.max(keys[0]).alias("__kmax"),
            ]
            if single_key
            else []
        )
        row = None
        if dup_cols or flag_cols or range_cols:
            row = probe.agg(*dup_cols, *flag_cols, *range_cols).collect()[0]
        if dup_cols and (row["__n"] or 0) > (row["__nk"] or 0):
            batch = _collapse_or_raise(batch)
        batch_rows = row["__n"] if dup_cols else None
        new_range = None
        if (
            range_cols
            and row["__kmin"] is not None
            and isinstance(row["__kmin"], (int, float, str))
        ):
            new_range = (row["__kmin"], row["__kmax"])
        cand_covered = [
            covered[j]
            for j in range(len(covered))
            if (row[f"s{j}"] or 0) > 0
        ] if covered else []
        subset = uncovered + cand_covered

        if not subset:
            # provably all-new keys: zero ledger reads, pure append
            keep_stats = {s: stats[s] for s in covered}
            return self._commit_keyed_segments(
                table, segs, batch, epoch_id, scope, keys, keep_stats,
                new_df_materialized=staging_order is None,
                new_range=new_range,
                new_rows=batch_rows,
            )

        existing_sub = self._read_segments(table, subset)
        slow = staging_order is not None
        if not slow:
            changed = batch.exceptAll(existing_sub).join(
                existing_sub, keys, "left_semi"
            )
            slow = not changed.isEmpty()
        keep = [s for s in segs if s not in subset]
        keep_stats = {s: stats[s] for s in keep if s in stats}
        if slow:
            # partial keyed rewrite: only the segments that might
            # share a key merge with the batch; `keep` provably
            # doesn't (zone maps and blooms have no false negatives).
            # Statistic-less segments are in the subset, so the
            # rewrite re-covers them; the merged segment's zone map
            # is the driver-side union of what it absorbed.
            merged = upsert(existing_sub, batch, keys, staging_order)
            merged_range = self._range_union(
                *[stats.get(s, {}).get("range") for s in subset],
                new_range,
            )
            return self._commit_keyed_segments(
                table, keep, merged, epoch_id, scope, keys, keep_stats,
                new_range=merged_range,
            )
        delta = batch.join(existing_sub, keys, "left_anti")
        # identical re-send: every segment stays; re-cover any
        # statistic-less segment while we're here (a zone-map agg —
        # and a bloom when it wouldn't saturate — per uncovered
        # segment, one-time) so a compacted table regains skipping
        # even on a path that never rewrites segments.
        from .bloom import bloom_build

        keep_all_stats = dict(stats)
        for s in uncovered:
            seg_range = None
            if single_key:
                r = (
                    self._read_segments(table, [s])
                    .agg(
                        F.min(keys[0]).alias("lo"),
                        F.max(keys[0]).alias("hi"),
                    )
                    .collect()[0]
                )
                if r["lo"] is not None and isinstance(
                    r["lo"], (int, float, str)
                ):
                    seg_range = (r["lo"], r["hi"])
            seg_bloom = None
            if self._segment_rows(table, s) <= self.BLOOM_MAX_KEYS:
                seg_bloom = bloom_build(
                    self._read_segments(table, [s]), keys
                )
            if seg_range is not None or seg_bloom is not None:
                keep_all_stats[s] = {"bloom": seg_bloom, "range": seg_range}
        return self._commit_keyed_segments(
            table, segs, delta, epoch_id, scope, keys, keep_all_stats,
            new_range=new_range,
            new_rows=batch_rows,
        )

    def enforce_privacy(self, table: str) -> str:
        """Carto privacy enforcement (carto_.py:461-492): derive the
        dataset privacy from the recorded SELECT grants — PUBLIC only
        when 'publicuser' holds SELECT, else PRIVATE — force-set it,
        then RE-READ the manifest and assert, exactly the reference's
        save → refetch → assert loop (Carto is 'unreliable about
        privacy', so the written state is never trusted blind)."""
        users = (self.properties(table).get("grants") or {}).get("select") or []
        privacy = "PUBLIC" if "publicuser" in users else "PRIVATE"
        self.set_properties(table, privacy=privacy)
        observed = self.properties(table).get("privacy")
        if observed != privacy:
            raise AssertionError(
                f"privacy on {table}: wanted {privacy}, store reports {observed}"
            )
        return privacy
