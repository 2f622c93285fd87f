"""Key-partitioned last-writer-wins MERGE into the lake table
(SURVEY.md §2.6 K1/K3/K4).

Semantics = Iceberg's
    MERGE INTO tgt USING batch ON key
    WHEN MATCHED AND op='d' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND op!='d' THEN INSERT *
expressed as copy-on-write over hash buckets.

Physical strategy (what makes it scale):
1. batch (already one row per key, see operators/dedupe) gets its
   bucket id; the touched-bucket set is a tiny collect (≤ n_buckets).
2. only touched buckets of the target are read (manifest-level file
   pruning — at 100 TB a micro-batch reads a sliver of the table).
3. survivors = target ⟕anti broadcast(batch keys): when the deduped
   key set is broadcastable (≤ BROADCAST_KEY_LIMIT rows), the anti-join
   runs map-side over the bucket files; oversized batches fall back to
   a shuffle anti-join (AQE handles skew).
4. a small touched target (≥ FOLD_MIN_TOUCHED buckets of ≤
   FOLD_ROWS_PER_BUCKET rows each by manifest count, _fold_survivors)
   joins the upserts in one bucket-aligned shuffle and write, so each
   rewritten bucket commits one file set. Otherwise the target data
   NEVER shuffles: survivors are written back partition-aligned and
   the upserts (batch rows) take the only shuffle, one
   bucket-repartition — two file sets per bucket, but no full-table
   shuffle on a large table.
5. the written files commit together in one atomic snapshot with the
   epoch id + offsets (exactly-once: replaying an applied epoch is a
   metadata no-op — the observable the reference tests as "re-run
   returns 0 records", mysql/CaptureTest.java:97-99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.models import OP_DELETE
from plugin_debezium_spark.plans.evolve import evolve_schema
from plugin_debezium_spark.plans.lake import LakeTable, _cast_to, bucket_expr

# deduped key sets up to this many rows are broadcast for the
# anti-join (keys are narrow; 2M × ~80B ≈ 160 MB driver-side)
BROADCAST_KEY_LIMIT = 2_000_000
# lower bound on rows per write task for a batch of known size (see
# _bucket_partitioned)
WRITE_ROWS_PER_TASK = 32_768
# the ordered merge's survivors switch (_fold_survivors): touched
# target rows per touched bucket, and touched buckets
FOLD_ROWS_PER_BUCKET = 8_192
FOLD_MIN_TOUCHED = 8


def _fold_survivors(target_rows: int, n_touched: int) -> bool:
    """Whether the ordered merge writes its survivors in the upserts'
    bucket-aligned write (one file set per bucket) instead of a
    separate no-shuffle write: when at least FOLD_MIN_TOUCHED buckets
    are rewritten and their files hold at most FOLD_ROWS_PER_BUCKET
    rows per bucket (manifest counts).

    Folding saves the survivors' write job and a file per touched
    bucket and costs a shuffle of the survivors, so it pays with many
    touched buckets and few rows in each. Warm epoch-2 merge time,
    folded / separate, median of 5-7 alternated pairs per cell, local[4]
    on 4 cores, ~1.5 KB rows:
      32 buckets: 0.65-0.89 at <= 1,250 rows per bucket, 0.82-1.02 at
        5,000, 0.90-0.96 at 8,000, 0.98-1.01 at 10,000, 1.03 at
        20,000, 1.20 at 31,250;
      16 buckets: 0.77 at 2,000, 0.97 at 8,000;
      8 buckets: 0.92 at 2,000, 0.95 at 8,000;
      4 buckets: 1.00-1.08 from 2,000 to 10,000, 1.08-1.41 at 30,000.
    Below the switch a full scan of the result also takes about half
    the time at 32 buckets (one file per bucket instead of two)."""
    return (
        n_touched >= FOLD_MIN_TOUCHED
        and target_rows <= FOLD_ROWS_PER_BUCKET * n_touched
    )


def _bucket_partitioned(
    df: DataFrame,
    touched: list[int],
    key_cols: list[str],
    n_rows: int | None = None,
    min_tasks: int = 1,
) -> DataFrame:
    """Bucket-aligned repartition with slot-proportional fan-out: k
    salted sub-partitions per touched bucket so the write stage keeps
    every core busy even when touched buckets < 2×cores. The salt hash
    is seeded so it is independent of bucket_expr's unseeded key hash
    (same columns). Each task holds one (bucket, salt) slice → exactly
    one file per task under its bucket dir.

    n_rows (when the caller knows the exact batch size — the engine's
    epoch stats carry it): scale-adaptive LOWER bound on task size.
    A tiny epoch otherwise launches touched×k near-empty write tasks
    whose scheduling + per-task commit dominate the merge (measured
    ~0.7 s per 18k-row write at 64 tasks, r07); capping partitions at
    ceil(n_rows / WRITE_ROWS_PER_TASK) lets a small batch write in a
    few tasks while a bench-scale epoch (≥ WRITE_ROWS_PER_TASK×touched
    rows) keeps the full bucket-aligned width. Dynamic-partition
    writes split each task by bucket dir, so the FILE layout stays one
    file per (task, bucket) either way.

    min_tasks: a floor under that cap (the ordered merge's one-write
    path passes the core count, so a small write still uses every
    core)."""
    n = max(len(touched), 1)
    par = df.sparkSession.sparkContext.defaultParallelism
    k = max(1, -(-2 * par // n))
    width = n * k
    if n_rows is not None:
        cap = max(min_tasks, -(-int(n_rows) // WRITE_ROWS_PER_TASK))
        width = min(width, cap)
    if width < n:
        # fewer tasks than buckets: plain hash-by-bucket keeps each
        # bucket whole inside one task (one file per bucket)
        return df.repartition(width, F.col("_bucket"))
    if k == 1 or width <= n:
        return df.repartition(n, F.col("_bucket"))
    salt = F.pmod(F.xxhash64(F.lit(7907), *[F.col(c) for c in key_cols]), F.lit(k))
    return df.repartition(width, F.col("_bucket"), salt)


def _commit_merge(
    table: LakeTable,
    prev,
    new_files: list[dict],
    replaced_buckets: set[int],
    new_schema: T.StructType,
    changes: list[str],
    epoch_key: str,
    epoch_id: int,
    last_lsn: int,
    touched: list[int],
    n_batch_keys: int,
    summary: dict | None,
) -> dict:
    """Commit a merge's files with its offsets and summary in one
    pointer swap, and return the merge stats.

    The idempotence scope picks where the id goes: the default scope
    rides the snapshot's epoch counter; a custom scope stores the id
    under its own property and leaves last_epoch_id untouched. The
    summary is the caller's part (per-op/per-stream counts, the LSN
    slice) plus what only the merge knows: files and rows added and
    replaced, schema changes, the committed offset."""
    props = {"last_lsn": int(last_lsn)}
    s = {"operation": "merge", **(summary or {})}
    if epoch_key == "last_epoch_id":
        eid = s["epoch_id"] = epoch_id
    else:
        eid = None
        props[epoch_key] = s["batch_id"] = epoch_id
        s["epoch_key"] = epoch_key
    replaced = [f for f in prev.files if f["bucket"] in replaced_buckets]
    rows_added = int(sum(f["rows"] for f in new_files))
    s.update(
        last_lsn=int(last_lsn),
        schema_changes=list(changes),
        files_added=len(new_files),
        rows_added=rows_added,
        files_replaced=len(replaced),
        rows_replaced=int(sum(f["rows"] for f in replaced)),
    )
    snap = table.commit(
        new_files,
        replaced_buckets=replaced_buckets,
        schema=new_schema,
        epoch_id=eid,
        properties=props,
        expected_parent=prev.snapshot_id,
        summary=s,
    )
    return {
        "skipped": False,
        "epoch_id": epoch_id,
        "snapshot_id": snap.snapshot_id,
        "touched_buckets": len(touched),
        "batch_keys": n_batch_keys,
        "schema_changes": changes,
        "files_written": len(new_files),
        "rows_written": rows_added,
        "summary": s,
    }


def merge_batch(
    table: LakeTable,
    batch_latest: DataFrame,
    epoch_id: int,
    last_lsn: int,
    lww_guard: bool = False,
    mor: bool = False,
) -> dict:
    """Apply one micro-batch of key columns + payload columns + ``op``.

    Convenience wrapper: LWW-reduces the batch to one row per key (a
    raw batch may carry several events per key — e.g. a same-batch
    create→delete must net to "absent", matching the reference's
    log-order apply, mysql/CaptureTest.java:97-99), caches it, derives
    the touched-bucket set and key count in one tiny collect, then
    delegates to merge_prepared (the engine's epoch loop dedupes and
    computes those itself, in the same action as its schema inference).
    """
    prev = table.current()
    if prev.properties.get("last_epoch_id", -1) >= epoch_id:
        return {"skipped": True, "epoch_id": epoch_id}
    key_cols = list(prev.key_cols)
    if "_lsn" in batch_latest.columns:
        from plugin_debezium_spark.operators.dedupe import latest_by_key

        keyed = batch_latest.withColumn("lsn", F.col("_lsn")).withColumn(
            "ts_ms",
            F.col("_ts_ms")
            if "_ts_ms" in batch_latest.columns
            else F.col("_lsn"),
        )
        batch_latest = latest_by_key(keyed, tuple(key_cols)).drop(
            "lsn", "ts_ms"
        )
    batch = batch_latest.withColumn(
        "_bucket", bucket_expr(key_cols, prev.n_buckets)
    ).cache()
    try:
        agg = batch.agg(
            F.collect_set("_bucket").alias("bs"), F.count("*").alias("n")
        ).collect()[0]
        return merge_prepared(
            table,
            batch,
            touched=sorted(int(x) for x in agg["bs"]),
            n_batch_keys=int(agg["n"]),
            epoch_id=epoch_id,
            last_lsn=last_lsn,
            lww_guard=lww_guard,
            mor=mor,
        )
    finally:
        batch.unpersist()


def merge_prepared(
    table: LakeTable,
    batch: DataFrame,
    touched: list[int],
    n_batch_keys: int,
    epoch_id: int,
    last_lsn: int,
    lww_guard: bool = False,
    mor: bool = False,
    truncate_lsn: int | None = None,
    epoch_key: str = "last_epoch_id",
    summary: dict | None = None,
) -> dict:
    """Core MERGE. ``batch`` must be deduped (one row per key), carry
    ``_bucket``, and be cached by the caller (it is consumed by up to
    two write jobs). The three modes below share every step and differ
    only in the rows they write.

    epoch_key: which snapshot property scopes the idempotence guard.
    The batch engine uses the default shared counter; a streaming
    applier passes its own checkpoint-scoped key so its batch ids
    (which restart at 0 per checkpoint) are never compared against the
    batch engine's epoch ids — mixing the two on one table must not
    silently skip batches.

    summary: the caller's part of the snapshot summary (counts it
    already computed, e.g. the engine's per-op/per-stream stats). It
    commits in the same pointer swap as the data and offsets, extended
    with the merge's own file/row counts (see _commit_merge); a crash
    can therefore never leave data without its lineage, or lineage
    without its data.

    truncate_lsn: the max LSN of any TRUNCATE envelope in this epoch
    (reference op 't', ChangeConsumer.java:262-274). Table-wide delete
    semantics under ordered replay: every target row with
    ``_lsn <= truncate_lsn`` dies (the caller must pass touched=ALL
    buckets and pre-convert batch winners with lsn <= truncate_lsn to
    deletes). Only the ordered COW path supports it — an out-of-order
    (lww_guard) or append-only (mor) truncate is ill-defined without a
    global ordering barrier, so those raise instead of silently
    ignoring the event.

    mor=True (merge-on-read): the epoch APPENDS the batch as delta
    files (deletes as ``_deleted`` tombstones) — no target read, no
    survivors rewrite; epoch cost is O(batch) regardless of table size
    (Iceberg-v2-style). Readers resolve LWW per key at scan time
    (LakeTable._resolve_lww) and compaction folds deltas back into
    base files. Inherently safe under out-of-order delivery.

    lww_guard=False (default): epochs are applied in LSN order (the
    batch engine's contract), so batch rows unconditionally win — the
    fast path: a small touched target's survivors join the upserts in
    one bucket-aligned write; a large one's are written back without a
    shuffle beside the one batch shuffle (_fold_survivors).

    lww_guard=True: batches may arrive out of LSN order (the streaming
    file source delivers files in listing order). The touched buckets
    are rewritten as LakeTable._resolve_lww over target ∪ batch, and
    deletes are RETAINED as tombstones (_deleted=true) so a
    late-arriving stale insert cannot resurrect a deleted key. One
    shuffle of target+batch; a compaction pass can purge tombstones
    older than the max-disorder window.
    """
    prev = table.current()
    if int(prev.properties.get(epoch_key, -1)) >= epoch_id:
        # idempotent replay: already committed (reference re-run==0)
        return {"skipped": True, "epoch_id": epoch_id}
    tombstones = mor or lww_guard
    if truncate_lsn is not None and tombstones:
        raise ValueError(
            "TRUNCATE is only supported on the ordered copy-on-write "
            "path (set truncate_policy='drop' to ignore 't' events on "
            "mor/lww_guard pipelines)"
        )

    key_cols = list(prev.key_cols)
    payload_schema = T.StructType(
        [f for f in batch.schema.fields if f.name not in ("op", "_bucket")]
    )
    new_schema, changes = evolve_schema(prev.schema(), payload_schema)
    names = {f.name for f in new_schema.fields}
    if tombstones and "_deleted" not in names:
        raise ValueError(
            f"{'merge-on-read' if mor else 'lww_guard'} requires a table "
            "with a _deleted tombstone column"
        )

    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn("_bucket", bucket_expr(key_cols, prev.n_buckets))

    replaced = set() if mor else set(touched)  # mor only appends
    target_files = [f for f in prev.files if f["bucket"] in replaced]
    target = None
    if target_files:
        target = _cast_to(
            table._read_files(prev, target_files, None), new_schema
        )
    n_rows, min_tasks, survivors = n_batch_keys, 1, None
    if tombstones:
        rows = _cast_to(
            batch.withColumn("_deleted", F.col("op") == OP_DELETE), new_schema
        )
        # a late batch never moves the committed offset back
        last_lsn = max(int(last_lsn), int(prev.properties.get("last_lsn", -1)))
    if mor:
        tag = "delta"
    elif lww_guard:
        tag, n_rows = "lww", None
        if target is not None:
            rows = rows.unionByName(target)
        rows = table._resolve_lww(rows, prev)
    else:
        tag = "ups"
        rows = _cast_to(batch.filter(F.col("op") != OP_DELETE), new_schema)
        if "_deleted" in names:
            rows = rows.withColumn("_deleted", F.lit(False))
        if target is not None:
            if any(f.get("kind", "base") == "delta" for f in target_files):
                # mixed-mode table: earlier MOR epochs left delta files
                # in the touched buckets. A plain anti-join would copy
                # base+delta duplicates (and resurrect tombstoned keys)
                # into the new base files — resolve LWW first, exactly
                # as compaction does, so the rewritten buckets are
                # clean base.
                target = table._resolve_lww(target, prev)
            if truncate_lsn is not None:
                # table-wide delete: rows last written at or before the
                # truncate point do not survive (pushed filter, no
                # shuffle)
                target = target.filter(
                    F.col("_lsn") > F.lit(int(truncate_lsn))
                )
            keys = batch.select(*key_cols)
            if n_batch_keys <= BROADCAST_KEY_LIMIT:
                # target data never shuffles: map-side anti-join against
                # the broadcast key set, written back partition-aligned
                keys = F.broadcast(keys)
            survivors = target.join(keys, on=key_cols, how="left_anti")
            target_rows = sum(int(f["rows"]) for f in target_files)
            if _fold_survivors(target_rows, len(touched)):
                # one file set per bucket: the survivors ride the
                # upserts' bucket-aligned write, given at least one
                # task per core (at the batch-only width, one task at
                # the benchmark's size, events_per_s read 2-3% lower on
                # 4 cores)
                rows, survivors = rows.unionByName(survivors), None
                n_rows += target_rows
                min_tasks = batch.sparkSession.sparkContext.defaultParallelism

    # the written rows → bucket layout (the ordered merge's only
    # full-row shuffle). Write tasks fan out beyond one-per-bucket when
    # the cluster has more slots than touched buckets (k salted
    # sub-tasks per bucket → k files per bucket dir): with exactly
    # n_buckets reduce tasks, wave imbalance serializes the write at
    # high core counts (measured: 64 tasks beat 32 by 1.5x at 16 cores).
    writes = [
        (
            _bucket_partitioned(
                bucketed(rows), touched, key_cols, n_rows, min_tasks
            ),
            tag,
        )
    ]
    if survivors is not None:
        writes.append((bucketed(survivors), "keep"))

    # above the survivors switch the ordered merge's two write jobs are
    # independent — submit them concurrently so neither's stage gaps
    # idle the cluster (same trick a streaming runtime uses for sibling
    # sinks)
    from concurrent.futures import ThreadPoolExecutor

    def _write(w):
        df, tag = w
        # mor writes delta files; the rest keep the default base kind
        extra = {"kind": "delta"} if mor else {}
        return table.write_bucket_data(
            df, prev.snapshot_id + 1, tag=tag, **extra
        )

    with ThreadPoolExecutor(max_workers=len(writes)) as ex:
        new_files = [f for r in ex.map(_write, writes) for f in r]

    return _commit_merge(
        table, prev, new_files, replaced, new_schema, changes, epoch_key,
        epoch_id, last_lsn, touched, n_batch_keys, summary,
    )
