"""Snapshot-atomic bucketed lake-table format ("icelite").

The north rule asks for Iceberg snapshot-atomic commits with
idempotent epoch IDs. No Iceberg runtime jar exists in this sandbox,
so this module implements the minimal subset of the Iceberg table spec
we rely on — a metadata log of immutable snapshots over immutable
Parquet data files, committed by an atomic pointer swap — behind an
interface a real Iceberg catalog could replace 1:1. Semantics mirrored
from the public Iceberg spec (metadata.json + snapshot manifests +
atomic current-pointer CAS); the reference's analogue is its atomic
combined KV state write that refuses to desync offsets from history
(AbstractDebeziumTask.java:700-732).

Layout:
    <table>/metadata/v{N}.json   immutable snapshot manifests
    <table>/metadata/_current    pointer file (os.rename = atomic swap)
    <table>/data/snap-{N}/...    parquet files, partitioned by _bucket

Scale notes:
- Data files are hash-bucketed on the key: a MERGE rewrites only the
  buckets its batch touches (copy-on-write, like Iceberg COW with
  bucket partitioning). At 100 TB you'd set n_buckets ~10^4-10^5 so a
  micro-batch rewrites a small fraction of the table.
- Snapshot manifests carry {file -> bucket, schema_id, rows}: readers
  prune by bucket without listing directories, and mixed-schema reads
  cast per file group (exact type widening, no inference).
- Offsets (last_lsn) and the last applied epoch live IN the snapshot
  properties — state and data commit in the same atomic swap, the
  reference's "no incomplete writes" lesson.
- Each snapshot also carries the summary of the operation that made
  it (Iceberg's snapshot summary, Delta's commitInfo): per-op and
  per-stream counts, the LSN slice, files and rows added/replaced.
  It rides the same swap, so lineage can never lag the data;
  ``history()`` reads it back.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.models import KEY_COLS
from plugin_debezium_spark.plans.fs import LocalMetaFS

_CURRENT = "_current"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since the caller's basis snapshot (or
    holds the commit lock) — recompute against the new current."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    epoch_id: int | None
    schema_id: int
    schemas: list[dict]  # StructType.jsonValue() per schema_id
    n_buckets: int
    key_cols: list[str]
    files: list[dict] = field(default_factory=list)  # {path,bucket,schema_id,rows}
    properties: dict = field(default_factory=dict)
    # what THIS commit did; unlike properties, never inherited from the
    # parent (manifests written before the field existed load as {})
    summary: dict = field(default_factory=dict)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schemas[self.schema_id])

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))


HISTORY_COUNTS = ("files_added", "rows_added", "files_replaced", "rows_replaced")
# lsn_lo/lsn_hi: inclusive bounds of the log slice an epoch covered
# (epoch N+1's lsn_lo is epoch N's lsn_hi + 1)
HISTORY_SCHEMA = (
    "snapshot_id bigint, parent_id bigint, epoch_id bigint, operation string, "
    "lsn_lo bigint, lsn_hi bigint, last_lsn bigint, "
    "ops map<string, struct<n_events: bigint, lsn_lo: bigint, lsn_hi: bigint>>, "
    "streams map<string, bigint>, schema_changes array<string>, "
    + "".join(f"{k} bigint, " for k in HISTORY_COUNTS)
    + "summary string"
)


def bucket_expr(key_cols=KEY_COLS, n_buckets: int = 32):
    """Deterministic key→bucket assignment; recomputed on read so the
    bucket never has to be stored in data files."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


class LakeTable:
    """``fs`` is the metadata I/O boundary (plans/fs.py): snapshot
    manifests, the _current pointer, and the commit lock go through it
    exclusively, so an object-store deployment swaps the implementation
    — data files are Spark-written and never touch it."""

    def __init__(self, spark: SparkSession, path: str, fs=None, data_fs=None):
        from plugin_debezium_spark.plans.fs import LocalDataFS

        self.spark = spark
        self.path = path
        self.fs = fs or LocalMetaFS()
        # data-layer boundary: only RECLAIM goes through it (batch
        # deletes for expire_snapshots); reads/writes are Spark's
        self.data_fs = data_fs or LocalDataFS()
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 32,
        key_cols: tuple[str, ...] = KEY_COLS,
        fs=None,
        data_fs=None,
    ) -> "LakeTable":
        t = LakeTable(spark, path, fs=fs, data_fs=data_fs)
        t.fs.mkdirs(t.meta_dir)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            epoch_id=None,
            schema_id=0,
            schemas=[schema.jsonValue()],
            n_buckets=n_buckets,
            key_cols=list(key_cols),
            files=[],
            properties={"last_lsn": -1, "last_epoch_id": -1},
            summary={"operation": "create"},
        )
        t._write_snapshot(snap)
        return t

    @staticmethod
    def exists(path: str, fs=None) -> bool:
        return (fs or LocalMetaFS()).exists(
            os.path.join(path, "metadata", _CURRENT)
        )

    def current(self) -> Snapshot:
        name = self.fs.read_text(
            os.path.join(self.meta_dir, _CURRENT)
        ).strip()
        return Snapshot.from_json(
            self.fs.read_text(os.path.join(self.meta_dir, name))
        )

    def snapshot(self, snapshot_id: int) -> Snapshot:
        """Load a historical snapshot (manifests are immutable)."""
        return Snapshot.from_json(
            self.fs.read_text(
                os.path.join(self.meta_dir, f"v{snapshot_id:08d}.json")
            )
        )

    def snapshots(self) -> list[int]:
        return sorted(
            int(n[1:9])
            for n in self.fs.list(self.meta_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def history(self) -> DataFrame:
        """One row per retained snapshot of the current pointer's
        ancestor chain, oldest first: what each commit applied, from
        its committed summary. Built on the driver from the manifests
        (a local relation — no job runs until it is read); orphan
        manifests of crashed commits are not on the chain and never
        show. Keys a row has no column for stay in ``summary`` (JSON)."""
        from concurrent.futures import ThreadPoolExecutor

        cur = self.current()
        ids = [i for i in self.snapshots() if i < cur.snapshot_id]
        with ThreadPoolExecutor(max_workers=16) as ex:
            loaded = {s.snapshot_id: s for s in ex.map(self.snapshot, ids)}
        loaded[cur.snapshot_id] = cur
        chain, node = [], cur
        while node is not None:
            chain.append(node)
            node = loaded.get(node.parent_id)
        rows = []
        for snap in reversed(chain):
            s = snap.summary
            rows.append(
                (
                    snap.snapshot_id,
                    snap.parent_id,
                    s.get("epoch_id"),
                    s.get("operation"),
                    s.get("lsn_lo"),
                    s.get("lsn_hi"),
                    snap.properties.get("last_lsn"),
                    {op: (v["n_events"], v["lsn_lo"], v["lsn_hi"])
                     for op, v in s.get("ops", {}).items()} or None,
                    s.get("streams") or None,
                    s.get("schema_changes"),
                    *(s.get(k) for k in HISTORY_COUNTS),
                    json.dumps(s, sort_keys=True),
                )
            )
        return self.spark.createDataFrame(rows, HISTORY_SCHEMA)

    def read_at(
        self, snapshot_id: int, include_deleted: bool = False
    ) -> DataFrame:
        """Time travel: read the table as of a past snapshot/epoch —
        data files are immutable, so any retained snapshot stays
        consistent (Iceberg-spec semantics)."""
        snap = self.snapshot(snapshot_id)
        df = self._read_files(snap, snap.files, None)
        if any(f.get("kind", "base") == "delta" for f in snap.files):
            df = self._resolve_lww(df, snap)
        if not include_deleted and "_deleted" in df.columns:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df

    # -- read --------------------------------------------------------------

    def read(
        self, buckets: list[int] | None = None, include_deleted: bool = False
    ) -> DataFrame:
        """Current table state (optionally bucket-pruned), cast to the
        current schema. Files are grouped by their written schema_id;
        each group reads with its exact schema then casts — precise
        add-column/widening semantics with zero inference.

        If the snapshot contains delta files (merge-on-read epochs),
        rows are LWW-resolved per key on (_lsn, _ts_ms) at read time.
        Tables with a ``_deleted`` tombstone column exclude tombstones
        by default."""
        snap = self.current()
        df = self._read_files(snap, snap.files, buckets)
        if any(f.get("kind", "base") == "delta" for f in snap.files):
            df = self._resolve_lww(df, snap)
        if not include_deleted and "_deleted" in df.columns:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df

    def lookup(self, **key_values) -> DataFrame:
        """Point read: hash the key to its bucket and scan ONLY that
        bucket's files — cost is O(table/n_buckets) regardless of table
        size (the payoff of hash-bucketed layout; at n_buckets=10^4 a
        100 TB table answers a key probe from ~10 GB of files, and the
        key equality predicate pushes into those scans). Partial keys
        are rejected: the bucket is a hash of the FULL key."""
        snap = self.current()
        missing = [k for k in snap.key_cols if k not in key_values]
        if missing:
            raise ValueError(
                f"lookup needs the full key {snap.key_cols}; missing {missing}"
            )
        one = self.spark.createDataFrame(
            [tuple(key_values[k] for k in snap.key_cols)],
            T.StructType(
                [T.StructField(k, T.StringType()) for k in snap.key_cols]
            ),
        )
        bucket = one.select(
            bucket_expr(tuple(snap.key_cols), snap.n_buckets).alias("b")
        ).collect()[0]["b"]
        df = self.read(buckets=[int(bucket)])
        for k in snap.key_cols:
            df = df.filter(F.col(k) == F.lit(key_values[k]))
        return df

    def _resolve_lww(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Merge-on-read resolution: one live row per key = the max
        (_lsn, _ts_ms) version across base + delta files. Requires the
        engine's _lsn/_ts_ms audit columns."""
        if "_lsn" not in df.columns:
            raise ValueError(
                "merge-on-read resolution needs the _lsn column — this "
                "table was not written by the CDC engine"
            )
        from plugin_debezium_spark.operators.dedupe import latest_by_key

        keyed = df.withColumn("lsn", F.col("_lsn")).withColumn(
            "ts_ms", F.col("_ts_ms")
        )
        return latest_by_key(keyed, tuple(snap.key_cols)).drop("lsn", "ts_ms")

    def _read_files(
        self, snap: Snapshot, files: list[dict], buckets: list[int] | None
    ) -> DataFrame:
        cur_schema = snap.schema()
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if not files:
            return self.spark.createDataFrame([], cur_schema)
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(
                os.path.join(self.path, f["path"])
            )
        parts = []
        for sid, paths in sorted(by_schema.items()):
            s = T.StructType.fromJson(snap.schemas[sid])
            df = self.spark.read.schema(s).parquet(*paths)
            parts.append(_cast_to(df, cur_schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write / commit ------------------------------------------------------

    def write_bucket_data(
        self, df: DataFrame, snapshot_id: int, tag: str = "d", kind: str = "base"
    ) -> list[dict]:
        """Write df (must carry ``_bucket``) partitioned by bucket under
        data/snap-{id}; returns manifest entries. One shuffle-free
        partitioned write; file row-counts come from parquet footers
        (local metadata reads, not a data scan)."""
        rel = f"data/snap-{snapshot_id}-{tag}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, rel)
        df.write.mode("overwrite").partitionBy("_bucket").parquet(out)
        return self._manifest_entries(out, kind)

    def _manifest_entries(self, out: str, kind: str = "base") -> list[dict]:
        """DATA-layer stats, not MetaFS: lists and footer-reads the
        parquet files Spark just wrote, so it uses the same storage
        Spark did (local os.walk here; pyarrow's S3/HDFS FileSystem on
        an object store). Only the resulting manifest JSON goes through
        the MetaFS boundary."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        paths = []
        for root, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    paths.append((os.path.join(root, n), root))

        def entry(p):
            full, root = p
            return {
                "path": os.path.relpath(full, self.path),
                "bucket": int(os.path.basename(root).split("=")[1]),
                "schema_id": -1,  # filled by commit()
                "rows": pq.ParquetFile(full).metadata.num_rows,
                "kind": kind,
            }

        with ThreadPoolExecutor(max_workers=16) as ex:
            return list(ex.map(entry, paths))

    def commit(
        self,
        new_files: list[dict],
        replaced_buckets: set[int],
        schema: T.StructType | None = None,
        epoch_id: int | None = None,
        properties: dict | None = None,
        expected_parent: int | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """Atomic commit: new snapshot = (old files minus replaced
        buckets) + new files, optionally evolved schema, merged
        properties, and this commit's own ``summary``. The _current
        pointer swap (os.rename) is the one atomic instant — a crash
        before it leaves the old snapshot fully intact (orphan data
        files are harmless garbage).

        Optimistic concurrency: the whole read-validate-swap runs under
        an exclusive-create lock (fs.create_exclusive — O_EXCL locally,
        a conditional PUT / catalog CAS on an object store). Pass
        expected_parent to abort when another writer committed since
        the caller's basis snapshot (ConcurrentCommitError)."""
        with self._commit_lock():
            return self._commit_locked(
                new_files,
                replaced_buckets,
                schema,
                epoch_id,
                properties,
                expected_parent,
                summary,
            )

    @contextmanager
    def _commit_lock(self):
        lock = os.path.join(self.meta_dir, "_commit.lock")
        import time as _time

        deadline = _time.time() + 60
        while True:
            # record the holder so a crash doesn't orphan the lock
            # forever: reclaimers check pid liveness + age
            if self.fs.create_exclusive(
                lock, json.dumps({"pid": os.getpid(), "ts": _time.time()})
            ):
                break
            holder = self._read_lock_holder(lock)
            if self._lock_is_stale(holder, _time.time()):
                # atomic reclaim: only one renamer wins, so two
                # concurrent reclaimers can't unlink a fresh lock
                claim = lock + f".reclaim-{uuid.uuid4().hex[:6]}"
                if self.fs.rename_if_exists(lock, claim):
                    self.fs.delete(claim)
                continue
            if _time.time() > deadline:
                pid = holder.get("pid", "unknown")
                raise ConcurrentCommitError(
                    f"commit lock held for >60s by pid {pid}: {lock} "
                    "— if that process is dead, delete the lock file"
                )
            _time.sleep(0.05)
        try:
            yield
        finally:
            self.fs.delete(lock)

    def commit_metadata(
        self,
        *,
        schemas: list[dict],
        schema_id: int,
        files: list[dict],
        expected_parent: int | None = None,
        properties: dict | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """Metadata-only commit (schema-history RECOVERY,
        plans/evolve.rebuild_schema_history): replace the schema
        lineage and the per-file schema_id mapping WITHOUT touching
        data files — same lock + manifest-then-pointer-swap discipline
        as commit(), same optimistic-concurrency guard."""
        with self._commit_lock():
            prev = self.current()
            if (
                expected_parent is not None
                and prev.snapshot_id != expected_parent
            ):
                raise ConcurrentCommitError(
                    f"basis snapshot {expected_parent} is stale: current "
                    f"is {prev.snapshot_id} — recompute against the new "
                    "snapshot"
                )
            props = dict(prev.properties)
            props.update(properties or {})
            snap = Snapshot(
                snapshot_id=prev.snapshot_id + 1,
                parent_id=prev.snapshot_id,
                epoch_id=prev.epoch_id,
                schema_id=schema_id,
                schemas=schemas,
                n_buckets=prev.n_buckets,
                key_cols=prev.key_cols,
                files=files,
                properties=props,
                summary=dict(summary or {}),
            )
            self._write_snapshot(snap)
            return snap

    # seconds after which a lock whose holder can't be proven alive is
    # reclaimable (same-host pid check short-circuits much earlier)
    LOCK_TTL_S = 300.0

    def _read_lock_holder(self, lock: str) -> dict:
        try:
            return json.loads(self.fs.read_text(lock) or "{}")
        except (OSError, ValueError):
            return {}

    @staticmethod
    def _lock_is_stale(holder: dict, now: float) -> bool:
        pid = holder.get("pid")
        if isinstance(pid, int):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return True  # holder is dead on this host
            except PermissionError:
                pass  # alive, owned by someone else
        ts = holder.get("ts")
        if isinstance(ts, (int, float)):
            return now - ts > LakeTable.LOCK_TTL_S
        # unreadable/legacy lock: only the TTL can clear it — use the
        # conservative answer (not stale) so we never break a live one
        return False

    def _commit_locked(
        self,
        new_files: list[dict],
        replaced_buckets: set[int],
        schema: T.StructType | None,
        epoch_id: int | None,
        properties: dict | None,
        expected_parent: int | None,
        summary: dict | None,
    ) -> Snapshot:
        prev = self.current()
        if expected_parent is not None and prev.snapshot_id != expected_parent:
            raise ConcurrentCommitError(
                f"basis snapshot {expected_parent} is stale: current is "
                f"{prev.snapshot_id} — recompute against the new snapshot"
            )
        schemas = list(prev.schemas)
        schema_id = prev.schema_id
        if schema is not None and schema.jsonValue() != prev.schemas[prev.schema_id]:
            schemas.append(schema.jsonValue())
            schema_id = len(schemas) - 1
        for e in new_files:
            e["schema_id"] = schema_id
        kept = [f for f in prev.files if f["bucket"] not in replaced_buckets]
        props = dict(prev.properties)
        props.update(properties or {})
        if epoch_id is not None:
            props["last_epoch_id"] = epoch_id
        snap = Snapshot(
            snapshot_id=prev.snapshot_id + 1,
            parent_id=prev.snapshot_id,
            epoch_id=epoch_id,
            schema_id=schema_id,
            schemas=schemas,
            n_buckets=prev.n_buckets,
            key_cols=prev.key_cols,
            files=kept + new_files,
            properties=props,
            summary=dict(summary or {}),
        )
        self._write_snapshot(snap)
        return snap

    def _write_snapshot(self, snap: Snapshot) -> None:
        name = f"v{snap.snapshot_id:08d}.json"
        # manifest first, pointer second: the pointer swap is the one
        # atomic instant (fs.write_atomic's contract — tmp+fsync+rename
        # locally, atomic PUT on an object store)
        self.fs.write_atomic(
            os.path.join(self.meta_dir, name), snap.to_json()
        )
        self.fs.write_atomic(os.path.join(self.meta_dir, _CURRENT), name)


def _cast_to(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast df to the target schema: missing columns → null,
    narrower types → cast (the widening read path)."""
    cols = []
    have = {f.name: f.dataType for f in df.schema.fields}
    for f in target.fields:
        if f.name in have:
            c = F.col(f.name)
            if have[f.name] != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
