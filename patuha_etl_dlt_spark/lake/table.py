"""LakeTable — snapshot-versioned Parquet table with commutative MERGE.

This is the engine's sink, replacing the reference's MySQL target tables +
dlt merge disposition (``/root/reference/source/pipeline_management.py:1076``,
``:1826-1862`` — per-row ``INSERT … ON DUPLICATE KEY UPDATE``) with a
Spark-first design:

- **Layout**: data files are Parquet, hash-bucketed on the merge key
  (``pmod(xxhash64(key), num_buckets)``). A MERGE only reads and rewrites
  the buckets its delta touches (copy-on-write at bucket granularity) —
  the analog of the reference's PK-index pre-creation
  (``index_management.py:177-231``), done with layout instead of indexes.
- **MERGE semantics**: last-writer-wins registers. The winner per key is
  ``max_by(payload, (order_col, _event_id))`` over (base ∪ delta).
  Deletes become *tombstones* (``_deleted=true``) that keep their event
  time, so merge is **commutative and idempotent**: applying batches in
  any order, or re-applying any batch, converges to the same final state
  — the property that makes replay-from-any-checkpoint exact. The
  reference gets a weaker version of this from MySQL upsert arrival order
  (a correctness hazard: ``workflow.md:50-72``); we make it total.
- **Aggregation, not window**: LWW reduction uses ``max_by`` (a declarative
  aggregate with map-side partial aggregation) rather than a window sort.
  Partial aggregation collapses hot keys on the map side, so a key with
  10^6 duplicate events costs ~1 combined row per input partition in the
  shuffle — the primary skew defense; explicit salting (``cdc.dedup``)
  covers the window-based path.
- **Atomic commits + exactly-once**: a snapshot manifest lists data files;
  committing is an atomic pointer swap. Each snapshot records the batch
  ids it contains; re-applying a committed ``batch_id`` is a no-op
  (the Iceberg snapshot-summary idempotence protocol).
- **Schema evolution**: metadata-only add / rename / type-widen with
  column IDs; old files are id-mapped + cast at scan time.
"""

from __future__ import annotations

import functools
import glob
import json
import operator
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from patuha_etl_dlt_spark.lake import metadata as M
from patuha_etl_dlt_spark.lake.metadata import DataFile, Field, Schema, Snapshot

# system columns every lake table carries (reference analog: dlt lineage
# columns _dlt_load_id/_dlt_id, /root/reference/source/database.py:435-458)
SYS_DELETED = "_deleted"
SYS_BATCH = "_batch_id"
SYS_EVENT = "_event_id"
SYS_COLS = (SYS_DELETED, SYS_BATCH, SYS_EVENT)

_ORDER_NULL_TS = "1970-01-01 00:00:00"

# Serializes set→job→restore of session-wide SQL conf across the driver
# threads a SyncOrchestrator(max_concurrency>1) runs merges from. Without
# it, thread B can capture thread A's TEMPORARY value as its "previous"
# conf and restore that after A already restored the original — leaving
# the session permanently at another table's num_buckets. Threads whose
# target conf already matches the session skip the lock entirely (the
# common homogeneous-bucket-count case stays fully concurrent); a locked
# mutator running beside an unlocked reader is the known perf-only worst
# case (a bucket may get >1 file for one commit, healed by compaction).
_CONF_LOCK = threading.RLock()


@contextmanager
def _pinned_shuffle_conf(spark: SparkSession, num_buckets: int):
    """Run a write job with ``spark.sql.shuffle.partitions == num_buckets``,
    restoring the previous session conf afterwards — leak-free under
    concurrent callers."""
    conf = spark.conf
    target = str(num_buckets)
    if conf.get("spark.sql.shuffle.partitions") == target:
        yield
        return
    with _CONF_LOCK:
        prev = conf.get("spark.sql.shuffle.partitions")
        try:
            conf.set("spark.sql.shuffle.partitions", target)
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)


def _order_null_literal(typ: str):
    """A sorts-before-everything fallback for NULL order-column values,
    chosen from the column's declared lake type. (A hardcoded timestamp
    fallback used to make every merge on a long/date/decimal order column
    fail with DATATYPE_MISMATCH.)"""
    t = typ.lower()
    if t == "timestamp":
        return F.lit(_ORDER_NULL_TS).cast("timestamp")
    if t == "date":
        return F.lit("1970-01-01").cast("date")
    if t in ("long", "bigint"):
        return F.lit(-(1 << 63)).cast("long")
    if t in ("int", "integer"):
        return F.lit(-(1 << 31)).cast("int")
    if t in ("short", "smallint"):
        return F.lit(-(1 << 15)).cast("short")
    if t in ("byte", "tinyint"):
        return F.lit(-(1 << 7)).cast("byte")
    if t == "double":
        return F.lit(float("-inf")).cast("double")
    if t == "float":
        return F.lit(float("-inf")).cast("float")
    if t == "string":
        return F.lit("")
    if t.startswith("decimal"):
        p, s = (int(x) for x in t[t.index("(") + 1 : t.index(")")].split(","))
        digits = "9" * (p - s) + ("." + "9" * s if s else "")
        return F.lit(f"-{digits}").cast(typ)
    raise ValueError(f"unsupported order-column type: {typ!r}")


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "_metadata")

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        columns: list[tuple[str, str]],
        key_cols: list[str] | str,
        order_col: str | None,
        num_buckets: int = 16,
        batch_retention: int | None = None,
    ) -> "LakeTable":
        """Create an empty table.

        ``columns``: user columns as (name, type) — e.g. the `pages` shape
        [(url,string),(warc_ts,timestamp),(html,binary),(text,string),(lang,string)].
        ``key_cols``: merge key; str or list (composite keys supported, as in
        the reference's utils.py:42-68).
        ``order_col``: the event-time/cursor column used for LWW ordering
        (ties broken by `_event_id`, the LSN — a total order). ``None`` for
        modifier-less tables (the reference's full-refresh dispatch,
        ``pipeline_management.py:2176-2182``): LWW then orders by the
        ``_event_id`` lineage column alone.
        ``batch_retention``: keep only the K most recent batch ids in each
        snapshot manifest (None = unbounded). At a 10^10-event feed the
        cumulative id list would make every commit O(history); with
        retention the manifest stays O(live files + K) forever. Safe when
        replays can only come from the last K batches — the engine's
        checkpoint offsets guarantee exactly that (older events are
        filtered out before the merge). Leave None for rollup tables fed
        outside an offset-guarded path.
        """
        key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        names = [c for c, _ in columns]
        for k in key_cols:
            if k not in names:
                raise ValueError(f"key column {k!r} not in columns")
        if order_col is None:
            order_col = SYS_EVENT
        elif order_col not in names:
            raise ValueError(f"order column {order_col!r} not in columns")
        else:
            _order_null_literal(dict(columns)[order_col])  # fail fast on unorderable types
        fields = [Field(i + 1, n, t) for i, (n, t) in enumerate(columns)]
        # system columns get reserved NEGATIVE ids so they can never collide
        # with payload field ids from event-envelope schema descriptors
        fields += [
            Field(-1, SYS_DELETED, "boolean"),
            Field(-2, SYS_BATCH, "string"),
            Field(-3, SYS_EVENT, "long"),
        ]
        schema = Schema.of(fields)
        snap = Snapshot(
            version=0,
            parent=None,
            schema_id=0,
            schemas={0: schema},
            key_cols=key_cols,
            order_cols=[order_col, SYS_EVENT],
            num_buckets=num_buckets,
            files=[],
            batch_retention=batch_retention,
            summary={"operation": "create"},
        )
        t = LakeTable(spark, root)
        if M.read_current_version(t.meta_dir) is not None:
            raise ValueError(f"table already exists at {root}")
        M.write_snapshot(t.meta_dir, snap)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        t = LakeTable(spark, root)
        if M.read_current_version(t.meta_dir) is None:
            raise FileNotFoundError(f"no lake table at {root}")
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return M.read_current_version(os.path.join(root, "_metadata")) is not None

    # ----------------------------------------------------------- snapshots

    @property
    def snapshot(self) -> Snapshot:
        v = M.read_current_version(self.meta_dir)
        if v is None:
            raise FileNotFoundError(f"no lake table at {self.root}")
        return M.read_snapshot(self.meta_dir, v)

    @property
    def schema(self) -> Schema:
        return self.snapshot.schema

    def user_columns(self) -> list[str]:
        return [f.name for f in self.schema.fields if f.name not in SYS_COLS]

    def has_batch(self, batch_id: str) -> bool:
        """Exactly-once check: has this batch already been committed?"""
        return batch_id in self.snapshot.batch_ids

    def history(self) -> list[Snapshot]:
        out = []
        v: int | None = M.read_current_version(self.meta_dir)
        while v is not None:
            s = M.read_snapshot(self.meta_dir, v)
            out.append(s)
            v = s.parent
        return out

    # --------------------------------------------------------------- reads

    def _bucket_expr(self, snap: Snapshot, keys=None):
        """Bucket assignment = Spark's own shuffle placement:
        ``pmod(murmur3_hash(keys), B)`` is exactly HashPartitioning's
        partition-id expression, so when a job runs with
        ``spark.sql.shuffle.partitions == num_buckets``, a groupBy/join on
        the keys lands every row in its bucket's partition — the bucketed
        write then needs NO extra repartition (one data shuffle saved per
        COW merge or compaction, and files come out one-per-bucket).
        ``keys``: expressions standing in for the key columns (default:
        the columns themselves); they must carry the key columns' lake
        types, because murmur3(int) != murmur3(long)."""
        keys = keys or [F.col(k) for k in snap.key_cols]
        return F.pmod(F.hash(*keys), F.lit(snap.num_buckets))

    def _align(self, df: DataFrame, schema: Schema, from_schema: Schema | None = None) -> DataFrame:
        """Project ``df`` to ``schema``: id-map names (when ``from_schema``
        given), cast widened types, fill missing columns with NULL."""
        cols = []
        for f in schema.fields:
            src = None
            if from_schema is not None:
                old = from_schema.field_by_id(f.id)
                if old is not None and old.name in df.columns:
                    src = old.name
            elif f.name in df.columns:
                src = f.name
            if src is None:
                cols.append(F.lit(None).cast(M.spark_type(f.type)).alias(f.name))
            else:
                cols.append(F.col(src).cast(M.spark_type(f.type)).alias(f.name))
        return df.select(*cols)

    def _read_files(self, snap: Snapshot, files: list[DataFile]) -> DataFrame:
        """Read data files (all schema epochs), aligned to the current schema
        **including system columns**; tombstones included."""
        target = snap.schema
        if not files:
            return self.spark.createDataFrame([], target.to_struct())
        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(f.schema_id, []).append(os.path.join(self.root, f.path))
        parts = []
        for sid, paths in sorted(by_sid.items()):
            raw = self.spark.read.schema(snap.schemas[sid].to_struct()).parquet(*paths)
            parts.append(self._align(raw, target, from_schema=snap.schemas[sid]))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _order_expr(self, snap: Snapshot):
        order_col = snap.order_cols[0]
        fld = next(f for f in snap.schema.fields if f.name == order_col)
        return F.struct(
            F.coalesce(F.col(order_col), _order_null_literal(fld.type)).alias("o1"),
            F.coalesce(F.col(SYS_EVENT), F.lit(-1)).alias("o2"),
        )

    def _lww_reduce(self, snap: Snapshot, df: DataFrame) -> DataFrame:
        """One LWW winner per key (max_by aggregate, map-side combined)."""
        payload = [c for c in df.columns if c not in snap.key_cols]
        return (
            df.groupBy(*snap.key_cols)
            .agg(F.max_by(F.struct(*payload), self._order_expr(snap)).alias("_w"))
            .select(*snap.key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
        )

    def _resolved(self, snap: Snapshot, files: list[DataFile], where=None) -> DataFrame:
        """Merge-on-read resolution: with no overlay among ``files`` they
        are already one resolved row per key and stream straight from the
        scan; any ``delta`` file (a global overlay, ``bucket == -1``, or a
        bucketed overlay from an older version of this table format)
        LWW-reduces ALL of them until compaction folds it. Tombstones
        retained. ``where``: a row predicate applied to every file BEFORE
        the reduce, so a pruned read (bucket- or key-filtered) reduces only
        the rows it returns — the aggregate would otherwise block the
        filter from reaching the scans."""
        df = self._read_files(snap, files)
        if where is not None:
            df = df.filter(where)
        return self._lww_reduce(snap, df) if any(f.kind == "delta" for f in files) else df

    @staticmethod
    def _visible(df: DataFrame, include_deleted: bool, include_system: bool) -> DataFrame:
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        if not include_system:
            df = df.drop(*SYS_COLS)
        return df

    def read(
        self,
        include_deleted: bool = False,
        include_system: bool = False,
        snapshot_version: int | None = None,
    ) -> DataFrame:
        """Current (or time-travel) state of the table as a DataFrame
        (merge-on-read overlays resolved)."""
        snap = (
            self.snapshot
            if snapshot_version is None
            else M.read_snapshot(self.meta_dir, snapshot_version)
        )
        return self._visible(self._resolved(snap, snap.files), include_deleted, include_system)

    def _pruned(self, snap: Snapshot, buckets, where, include_deleted: bool, include_system: bool):
        """Resolve the given buckets' files plus every global overlay (they
        overlap every bucket), rows filtered by ``where`` before the reduce."""
        files = [f for f in snap.files if f.bucket in buckets or f.bucket == -1]
        return self._visible(self._resolved(snap, files, where), include_deleted, include_system)

    def read_buckets(
        self,
        buckets,
        include_deleted: bool = False,
        include_system: bool = False,
    ) -> DataFrame:
        """Bucket-pruned read: resolve and return ONLY the given buckets'
        files (file-level pruning — the scan never opens untouched buckets,
        checkable via ``DataFrame.inputFiles()``). The bucket of a key is
        ``pmod(hash(keys), num_buckets)`` (see ``_bucket_expr``); callers
        that know which keys they need (e.g. the incremental-rollup fold)
        compute the touched buckets from those keys and skip the rest of
        the table entirely — O(touched state), not O(state). Global
        overlay files are scanned too, filtered to the wanted buckets."""
        snap = self.snapshot
        wanted = {int(b) for b in buckets}
        where = None
        if any(f.bucket == -1 for f in snap.files):
            # only overlay rows can lie outside the wanted buckets
            where = self._bucket_expr(snap).isin(sorted(wanted))
        return self._pruned(snap, wanted, where, include_deleted, include_system)

    def _key_literals(self, snap: Snapshot, keys) -> list[list]:
        """Key values (tuples for composite keys) as literals cast to the
        key columns' lake types."""
        types = {f.name: M.spark_type(f.type) for f in snap.schema.fields}
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        return [[F.lit(v).cast(types[k]) for k, v in zip(snap.key_cols, r)] for r in rows]

    def _literal_buckets(self, snap: Snapshot, lits: list[list]) -> list[int]:
        """Bucket of each literal key, from the writer's own
        ``_bucket_expr`` evaluated over an inline one-row table: it is
        constant-folded to a ``LocalTableScan``, so no Spark job runs
        (``SELECT 1`` would run one)."""
        if not lits:
            return []
        row = self.spark.sql("VALUES (1)").select(
            F.array(*[self._bucket_expr(snap, kl) for kl in lits])
        )
        return row.first()[0]

    def lookup(self, keys, include_system: bool = False) -> DataFrame:
        """Point lookup: current rows for the given key values, reading
        ONLY the buckets those keys hash into plus the global overlays —
        the CDC operator's "did url X land?" read, O(keys/num_buckets ·
        state) instead of a full scan. ``keys``: list of key values
        (tuples for composite keys). Buckets are computed without a Spark
        job (see ``_literal_buckets``) and the key predicate filters every
        file below the LWW reduce (pushed into the Parquet scans)."""
        snap = self.snapshot
        lits = self._key_literals(snap, keys)
        if len(snap.key_cols) == 1:
            # one flat IN, not an OR chain as deep as the key list
            where = F.col(snap.key_cols[0]).isin([kl[0] for kl in lits])
        else:
            where = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_, [F.col(k) == v for k, v in zip(snap.key_cols, kl)]
                    )
                    for kl in lits
                ],
                F.lit(False),
            )
        buckets = set(self._literal_buckets(snap, lits))
        return self._pruned(snap, buckets, where, False, include_system)

    # -------------------------------------------------------------- writes

    def _write_files(
        self,
        snap: Snapshot,
        df: DataFrame,
        distribute: bool = True,
        kind: str = "base",
    ) -> list[DataFile]:
        """Write ``df`` (already aligned to snap.schema); return the new
        DataFile entries.

        ``kind='base'``: one Hive partition dir per bucket.
        ``distribute=True`` (Iceberg's hash write-distribution mode)
        repartitions by bucket first so each bucket is exactly one file —
        without it, every shuffle task writes a file into every bucket it
        sees, and the resulting task×bucket file explosion dominates merge
        cost (measured 4-6× slower at 64 buckets).

        ``kind='delta'``: a GLOBAL overlay — no bucket column, no
        ``partitionBy``, files recorded with ``bucket == -1`` (meaning
        "overlaps every bucket"), written at the session's own shuffle
        width. There is no O(num_buckets) per-batch floor (dynamic-partition
        writer setup + one file commit per bucket — profiled at ~2 s @64
        buckets for a tiny merge, BASELINE.md round 3) and no plan pinned
        to num_buckets partitions; compaction folds overlays back into
        bucketed base files."""
        rel = M.new_data_dir(self.root)
        out = os.path.join(self.root, rel)
        if kind == "delta":
            df.write.mode("overwrite").parquet(out)
            return [
                DataFile(os.path.relpath(p, self.root), -1, snap.schema_id, kind)
                for p in glob.glob(os.path.join(out, "*.parquet"))
            ]
        dfw = df.withColumn("_bucket", self._bucket_expr(snap))
        if distribute:
            dfw = dfw.repartition(snap.num_buckets, "_bucket")
        dfw.write.partitionBy("_bucket").mode("overwrite").parquet(out)
        new_files: list[DataFile] = []
        for bdir in glob.glob(os.path.join(out, "_bucket=*")):
            b = int(os.path.basename(bdir).split("=", 1)[1])
            for p in glob.glob(os.path.join(bdir, "*.parquet")):
                new_files.append(DataFile(os.path.relpath(p, self.root), b, snap.schema_id, kind))
        return new_files

    def _commit(self, snap: Snapshot, files: list[DataFile], batch_id: str | None, summary: dict) -> Snapshot:
        ids = snap.batch_ids + ([batch_id] if batch_id else [])
        if snap.batch_retention is not None:
            ids = ids[-snap.batch_retention:]
        new = Snapshot(
            version=snap.version + 1,
            parent=snap.version,
            schema_id=snap.schema_id,
            schemas=snap.schemas,
            key_cols=snap.key_cols,
            order_cols=snap.order_cols,
            num_buckets=snap.num_buckets,
            files=files,
            batch_ids=ids,
            batch_retention=snap.batch_retention,
            summary=summary,
        )
        M.write_snapshot(self.meta_dir, new)
        return new

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> dict:
        """Full refresh (the reference's ``write_disposition="replace"`` path,
        ``pipeline_management.py:1225-1506``): target := source, as a new
        snapshot — O(metadata) "truncate", no row deletes."""
        snap = self.snapshot
        if batch_id and batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        aligned = self._align(
            df.withColumn(SYS_DELETED, F.lit(False))
            .withColumn(SYS_BATCH, F.lit(batch_id))
            .withColumn(
                SYS_EVENT,
                F.col(SYS_EVENT) if SYS_EVENT in df.columns else F.lit(None).cast("long"),
            ),
            snap.schema,
        )
        obs = Observation()
        aligned = aligned.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        files = self._write_files(snap, aligned)
        self._commit(
            snap, files, batch_id, {"operation": "overwrite", "batch_id": batch_id}
        )
        return {"skipped": False, "batch_id": batch_id, **obs.get}

    def merge(
        self,
        delta: DataFrame,
        batch_id: str | None = None,
        op_col: str | None = "op",
        collect_metrics: bool = True,
        mode: str = "mor",
        overlay: str = "global",
        delta_reduced: bool = False,
    ) -> dict:
        """Key-partitioned MERGE of a change-event delta into the table.

        ``delta`` carries the user columns (any subset, any historical
        names — it is id-less so matched by current name, cast as needed),
        plus ``_event_id`` (the LSN) and optionally ``op_col`` with values
        'I'|'U'|'D'. Rows with op='D' become tombstones. Equivalent to
        Iceberg ``MERGE INTO t USING delta ON key WHEN MATCHED [AND op='D']
        THEN DELETE / UPDATE WHEN NOT MATCHED THEN INSERT`` — but
        commutative (see module docstring).

        ``mode`` (the Iceberg copy-on-write vs merge-on-read choice):

        - ``'mor'`` (default): the batch-reduced delta is APPENDED as
          global overlay files (``bucket == -1``, see ``_write_files``);
          reads LWW-resolve overlays against base. Write cost per batch is
          O(delta), not O(touched table state), and the whole plan runs at
          the session's own shuffle width — the right default for a
          write-heavy CDC tail. Compaction (``compact_deltas``) folds
          overlays into one base file per bucket on a schedule; until then
          bucket-pruned reads and lookups scan (but filter) every overlay.
        - ``'cow'``: touched buckets are rewritten to one resolved base
          file each — read-optimal, write-amplified. The write runs with
          shuffle partitions == num_buckets (see ``_bucket_expr``).

        Because the LWW reduction is associative/commutative, both modes
        produce identical read() results in any mixture.

        ``overlay``: ``'global'``, the only merge-on-read layout (kept so
        callers may name it; anything else raises).

        ``delta_reduced``: promise that ``delta`` already carries at most
        ONE row per key (e.g. the engine's pre-extraction LWW reduce). The
        mor path then skips its in-batch reduction — the winner is
        identical (reducing singletons is the identity), one full
        aggregation pass over the batch saved.

        Returns a metrics dict; a re-applied ``batch_id`` short-circuits to
        ``{"skipped": True}`` (exactly-once).
        """
        if overlay != "global":
            raise ValueError(f"unknown overlay layout: {overlay!r} (only 'global')")
        snap = self.snapshot
        if batch_id and batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}

        key_cond = F.lit(True)
        for k in snap.key_cols:
            key_cond = key_cond & F.col(k).isNotNull()
        delta = delta.filter(key_cond)

        if op_col and op_col in delta.columns:
            deleted = F.upper(F.col(op_col)) == F.lit("D")
        else:
            deleted = F.lit(False)
        delta = delta.withColumn(SYS_DELETED, deleted).withColumn(SYS_BATCH, F.lit(batch_id))
        if SYS_EVENT not in delta.columns:
            delta = delta.withColumn(SYS_EVENT, F.lit(None).cast("long"))
        delta_aligned = self._align(delta, snap.schema)

        if mode == "mor":
            # winners WITHIN the batch only; appended as overlay files.
            # No base read, no bucket pre-scan: write cost is O(delta).
            winners = delta_aligned if delta_reduced else self._lww_reduce(snap, delta_aligned)
            kept_files = list(snap.files)
        elif mode == "cow":
            if any(f.bucket == -1 for f in snap.files):
                # global overlays overlap every bucket: rewriting only the
                # delta-touched buckets while keeping the overlay would
                # duplicate its untouched-bucket rows into unresolvable
                # base files — fold everything (compaction-grade rewrite)
                base_files, kept_files = list(snap.files), []
            else:
                # bucket pruning: only read base buckets the delta touches.
                # The pre-scan projects the key columns only — Catalyst
                # prunes everything else (including upstream pandas UDFs),
                # so it is cheap.
                touched_set = {
                    r[0]
                    for r in delta_aligned.select(self._bucket_expr(snap).alias("b"))
                    .distinct()
                    .collect()
                }
                base_files = [f for f in snap.files if f.bucket in touched_set]
                kept_files = [f for f in snap.files if f.bucket not in touched_set]
            base = self._resolved(snap, base_files)
            # LWW winner per key over (base ∪ delta): one hash aggregation
            # with map-side partial agg (collapses duplicate/hot keys
            # before the shuffle).
            winners = self._lww_reduce(snap, base.unionByName(delta_aligned))
        else:
            raise ValueError(f"unknown merge mode: {mode!r}")

        obs_out = Observation()
        if collect_metrics:
            winners = winners.observe(
                obs_out,
                F.count(F.lit(1)).alias("rows_written"),
                F.sum(F.col(SYS_DELETED).cast("long")).alias("tombstones"),
            )

        if mode == "mor":
            new_files = self._write_files(snap, winners, kind="delta")
        else:
            # the reduce's output partitioning — Hash(keys, num_buckets) —
            # IS the bucket function (see _bucket_expr), so the bucketed
            # write needs no further repartition: one file per bucket
            with _pinned_shuffle_conf(self.spark, snap.num_buckets):
                new_files = self._write_files(snap, winners, distribute=False)
        files = kept_files + new_files
        metrics: dict = {
            "skipped": False,
            "batch_id": batch_id,
            "mode": mode,
            "buckets_touched": len({f.bucket for f in new_files}),
            # on-disk bytes of this batch's files (driver-side stat of a
            # handful of paths): feeds the engine's measured bytes/row —
            # the LWW auto-strategy's width signal
            "bytes_written": sum(
                os.path.getsize(os.path.join(self.root, f.path)) for f in new_files
            ),
        }
        if collect_metrics:
            metrics.update(obs_out.get)
        self._commit(snap, files, batch_id, {"operation": "merge", **metrics})
        return metrics

    def replace_buckets(self, df: DataFrame, buckets, batch_id: str | None = None) -> dict:
        """Atomic bucket-granular overwrite: ``df`` must contain ALL
        surviving rows for ``buckets`` (one row per key); those buckets'
        files are replaced with freshly-written base files and every other
        bucket's files are kept untouched. Batch-id idempotent like merge.

        This is the copy-on-write primitive the incremental rollup folds
        through: the caller has already read the touched buckets' state and
        recombined it, so re-reading base inside the write (as ``merge``'s
        cow mode must) would double the state I/O. Runs with shuffle
        partitions == num_buckets so an upstream groupBy on the key columns
        leaves rows already bucket-placed (no extra repartition, one file
        per bucket)."""
        snap = self.snapshot
        if batch_id and batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        if any(f.bucket == -1 for f in snap.files):
            raise ValueError(
                "replace_buckets: table has global overlay files (bucket=-1) "
                "overlapping every bucket; run compact_deltas() first"
            )
        wanted = set(buckets)
        df = df.withColumn(SYS_DELETED, F.lit(False)).withColumn(SYS_BATCH, F.lit(batch_id))
        if SYS_EVENT not in df.columns:
            df = df.withColumn(SYS_EVENT, F.lit(None).cast("long"))
        aligned = self._align(df, snap.schema)
        obs = Observation()
        aligned = aligned.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        with _pinned_shuffle_conf(self.spark, snap.num_buckets):
            new_files = self._write_files(snap, aligned, distribute=False, kind="base")
        stray = {f.bucket for f in new_files} - wanted
        if stray:
            raise ValueError(f"replace_buckets: df contains rows outside {sorted(wanted)}: buckets {sorted(stray)}")
        kept = [f for f in snap.files if f.bucket not in wanted]
        metrics = {
            "skipped": False,
            "batch_id": batch_id,
            "buckets_replaced": len(wanted),
            **obs.get,
        }
        self._commit(snap, kept + new_files, batch_id, {"operation": "replace_buckets", **metrics})
        return metrics

    def compact_deltas(self, purge_tombstones_below: int | None = None) -> int:
        """Fold merge-on-read overlays into base files: when the table has
        any overlay file, the whole table is rewritten to one resolved base
        file per bucket (Iceberg rewrite_data_files +
        rewrite_position_delete_files analog) — a global overlay overlaps
        every bucket. Returns the number of distinct buckets folded (the
        overlays count as one), 0 when there was nothing to fold.

        ``purge_tombstones_below``: additionally drop tombstone rows whose
        event id is below this horizon from the rewrite — zero extra I/O vs
        a standalone ``compact_tombstones`` full rewrite. Safe ONLY when the
        table's LWW order is LSN-monotone per key — in particular when
        ``order_cols[0]`` is the ``_event_id`` lineage column itself (the
        engine's ``gc_tombstones`` checks this before passing a horizon).
        With a business order column, a future above-horizon event can
        carry an older/NULL order value and LOSE the LWW race to a
        below-horizon tombstone; purging that tombstone would resurrect the
        key. Callers with such tables must vouch for their own horizon."""
        snap = self.snapshot
        if not any(f.kind == "delta" for f in snap.files):
            return 0
        resolved = self._resolved(snap, snap.files)
        if purge_tombstones_below is not None:
            resolved = resolved.filter(
                (~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
                | (F.coalesce(F.col(SYS_EVENT), F.lit(-1)) >= F.lit(int(purge_tombstones_below)))
            )
        folded = len({f.bucket for f in snap.files})
        with _pinned_shuffle_conf(self.spark, snap.num_buckets):
            files = self._write_files(snap, resolved, distribute=False)
        self._commit(snap, files, None, {"operation": "compact_deltas", "buckets": folded})
        return folded

    # ----------------------------------------------------- schema evolution

    def _evolve(self, fn, op: str) -> None:
        snap = self.snapshot
        new_schema = fn(snap.schema)
        if new_schema is snap.schema:
            return
        sid = max(snap.schemas) + 1
        new = Snapshot(
            version=snap.version + 1,
            parent=snap.version,
            schema_id=sid,
            schemas={**snap.schemas, sid: new_schema},
            key_cols=snap.key_cols,
            order_cols=snap.order_cols,
            num_buckets=snap.num_buckets,
            files=snap.files,  # metadata-only: no data rewrite
            batch_ids=snap.batch_ids,
            batch_retention=snap.batch_retention,
            summary={"operation": op},
        )
        M.write_snapshot(self.meta_dir, new)

    def add_column(self, name: str, typ: str) -> None:
        self._evolve(lambda s: s.add_column(name, typ), f"add_column:{name}")

    def rename_column(self, old: str, new: str) -> None:
        snap = self.snapshot
        sid = max(snap.schemas) + 1
        M.write_snapshot(
            self.meta_dir,
            Snapshot(
                version=snap.version + 1,
                parent=snap.version,
                schema_id=sid,
                schemas={**snap.schemas, sid: snap.schema.rename_column(old, new)},
                # keep key/order metadata consistent through renames
                key_cols=[new if k == old else k for k in snap.key_cols],
                order_cols=[new if c == old else c for c in snap.order_cols],
                num_buckets=snap.num_buckets,
                files=snap.files,
                batch_ids=snap.batch_ids,
                batch_retention=snap.batch_retention,
                summary={"operation": f"rename_column:{old}->{new}"},
            ),
        )

    def widen_column(self, name: str, new_type: str) -> None:
        if name in self.snapshot.key_cols:
            # bucket placement is murmur3-hash-of-key, and murmur3(int) !=
            # murmur3(long): widening a key column silently invalidates
            # every recorded DataFile.bucket — bucket-pruned reads would
            # miss rows and cow merges would leave the same key live in
            # two buckets. Refuse; this needs an explicit migration.
            raise ValueError(
                f"widen_column: {name!r} is a merge-key column; the bucket "
                "hash is type-sensitive, so widening it invalidates all "
                "recorded bucket assignments. Run an explicit re-bucketing "
                "migration (create a new table with the widened key and "
                "overwrite() from read()) instead."
            )
        self._evolve(lambda s: s.widen_column(name, new_type), f"widen_column:{name}:{new_type}")

    # ---------------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old snapshot manifests and data files no current snapshot
        references (Iceberg's expire_snapshots/remove_orphan_files analog,
        reference hygiene analog: staging cleanup
        ``pipeline_management.py:1864-1873``). Returns files deleted."""
        hist = self.history()
        keep = hist[:keep_last]
        live = {f.path for s in keep for f in s.files}
        deleted = 0
        for s in hist[keep_last:]:
            for f in s.files:
                if f.path not in live:
                    p = os.path.join(self.root, f.path)
                    if os.path.exists(p):
                        os.unlink(p)
                        deleted += 1
            os.unlink(os.path.join(self.meta_dir, f"snap-{s.version:08d}.json"))
        # re-parent the oldest kept snapshot so history() stops cleanly
        if len(hist) > keep_last and keep:
            oldest = keep[-1]
            oldest.parent = None
            M.atomic_write(
                os.path.join(self.meta_dir, f"snap-{oldest.version:08d}.json"),
                json.dumps(oldest.to_json()),
            )
        return deleted

    def compact_files(self, max_files_per_bucket: int = 1) -> int:
        """Bin-pack small files: rewrite every bucket that has more than
        ``max_files_per_bucket`` files into one file (Iceberg's
        rewrite_data_files analog). Returns buckets compacted. Needed when
        appends/AQE-split writes fragment a bucket; a COW merge already
        writes one file per touched bucket."""
        snap = self.snapshot
        if any(f.bucket == -1 for f in snap.files):
            # global overlays overlap every bucket — fold everything
            targets = {f.bucket for f in snap.files}
            to_rewrite, kept = list(snap.files), []
        else:
            per_bucket: dict[int, int] = {}
            for f in snap.files:
                per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
            targets = {b for b, n in per_bucket.items() if n > max_files_per_bucket}
            if not targets:
                return 0
            to_rewrite = [f for f in snap.files if f.bucket in targets]
            kept = [f for f in snap.files if f.bucket not in targets]
        df = self._resolved(snap, to_rewrite)
        files = kept + self._write_files(snap, df, distribute=True)
        self._commit(snap, files, None, {"operation": "compact_files", "buckets": len(targets)})
        return len(targets)

    def compact_tombstones(self, older_than_event_id: int) -> None:
        """Purge tombstones whose LSN every feed partition has passed —
        safe once no event with a smaller LSN can still arrive."""
        snap = self.snapshot
        df = self._resolved(snap, snap.files)
        kept = df.filter(
            (~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
            | (F.coalesce(F.col(SYS_EVENT), F.lit(-1)) >= F.lit(older_than_event_id))
        )
        files = self._write_files(snap, kept)
        self._commit(snap, files, None, {"operation": "compact_tombstones"})
