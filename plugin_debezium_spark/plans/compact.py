"""Table maintenance: compaction + tombstone expiry.

COW merging accumulates two file sets per touched bucket per epoch
(survivors + upserts) and, in lww_guard mode, delete tombstones.
Compaction rewrites chosen buckets into one file each and drops
tombstones older than the out-of-order horizon — the same job
Iceberg's rewrite_data_files + expire_snapshots pair does.

Scale: compaction is per-bucket-parallel and reads only buckets whose
file count exceeds the threshold; run it on a cadence, not per epoch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from plugin_debezium_spark.plans.lake import LakeTable, bucket_expr


def compact(
    table: LakeTable,
    min_files_per_bucket: int = 2,
    expire_tombstones_below_lsn: int | None = None,
) -> dict:
    """Rewrite fragmented buckets; optionally drop tombstones whose
    _lsn is below the safe horizon (no event older than it can still
    arrive). Commits one new snapshot; a concurrent reader of the old
    snapshot is unaffected (immutable files)."""
    snap = table.current()
    per_bucket: dict[int, int] = {}
    for f in snap.files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    fragmented = sorted(
        b for b, n in per_bucket.items() if n >= min_files_per_bucket
    )
    # tombstone expiry must visit EVERY bucket (a tombstone can live in
    # an unfragmented one); plain compaction visits only fragmented ones
    if expire_tombstones_below_lsn is not None:
        targets = sorted(per_bucket)
    else:
        targets = fragmented
    if not targets:
        return {"compacted_buckets": 0, "snapshot_id": snap.snapshot_id}

    target_files = [f for f in snap.files if f["bucket"] in set(targets)]
    df = table._read_files(snap, target_files, None)
    if any(f.get("kind", "base") == "delta" for f in target_files):
        # merge-on-read buckets: resolve LWW before rewriting, else
        # stale base rows would be duplicated into the new base files
        df = table._resolve_lww(df, snap)
    if (
        expire_tombstones_below_lsn is not None
        and "_deleted" in df.columns
    ):
        df = df.filter(
            ~(
                F.coalesce(F.col("_deleted"), F.lit(False))
                & (F.col("_lsn") < F.lit(expire_tombstones_below_lsn))
            )
        )
    df = df.withColumn(
        "_bucket", bucket_expr(snap.key_cols, snap.n_buckets)
    ).repartition(max(len(targets), 1), F.col("_bucket"))
    new_files = table.write_bucket_data(df, snap.snapshot_id + 1, tag="compact")
    stats = {
        "compacted_buckets": len(targets),
        "files_before": sum(per_bucket[b] for b in targets),
        "files_after": len(new_files),
    }
    # expected_parent: a concurrent epoch commit aborts the compaction
    # (ConcurrentCommitError) instead of silently losing its files
    out = table.commit(
        new_files,
        replaced_buckets=set(targets),
        schema=snap.schema(),
        epoch_id=None,
        properties={"compacted": True},
        expected_parent=snap.snapshot_id,
        summary={
            "operation": "compact",
            **stats,
            "rows_added": int(sum(f["rows"] for f in new_files)),
            "expire_tombstones_below_lsn": expire_tombstones_below_lsn,
        },
    )
    return {**stats, "snapshot_id": out.snapshot_id}


def expire_snapshots(table: LakeTable, keep_last: int = 2) -> dict:
    """Retire old snapshots and reclaim their data files (the
    expire_snapshots + remove_orphan_files half of Iceberg maintenance;
    compact() is the rewrite_data_files half). Without this a COW table
    accumulates one full rewrite of every touched bucket per epoch —
    at production scale, disk grows with replay LENGTH, not table size.

    Keeps the ``keep_last`` newest snapshots of the CURRENT pointer's
    ancestor chain intact (time travel within the retention window
    still works; older read_at() targets are gone). Retention is
    anchored on the _current pointer, NEVER on the max manifest id: an
    orphan manifest from a crashed commit — or a racing in-flight
    commit, since this runs outside the commit lock and the manifest
    is written before the pointer swaps — can carry a HIGHER id than
    the live snapshot, and anchoring on ids would expire the live
    snapshot itself (manifest gone + its uniquely-referenced data
    files deleted = data loss). Manifests newer than the current
    pointer are left untouched for the same reason, and their files
    count as referenced.

    A data file is deleted only when NO surviving manifest references
    it — files shared across snapshots (MOR bases, untouched buckets)
    survive. Metadata deletes go through the MetaFS boundary;
    data-file deletes go through the table's DataFS boundary as ONE
    batch per expiry pass (object stores want DeleteObjects-style
    batches, not 10^5 serial driver-side unlinks). Expiry commits no
    snapshot, so it adds no history() row; the expired snapshots'
    rows leave history() with them."""
    import os

    keep_last = max(1, keep_last)
    # ancestor chain from the live snapshot (manifests are immutable;
    # parent ids always exist until expired)
    cur = table.current()
    chain = [cur.snapshot_id]
    node = cur
    while node.parent_id is not None:
        try:
            node = table.snapshot(node.parent_id)
        except FileNotFoundError:
            break  # ancestor already expired by an earlier pass
        chain.append(node.snapshot_id)
    expired = set(chain[keep_last:])
    if not expired:
        return {"expired": 0, "data_files_deleted": 0}
    surviving = [sid for sid in table.snapshots() if sid not in expired]
    # manifest loads are independent object reads — thread-pool them
    # like lake.py's manifest walks (a long-retention table holds
    # O(snapshots) manifests; serial driver reads made expiry
    # O(snapshots × RTT) — timing note in BENCH/BASELINE.md)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as ex:
        survivors = list(ex.map(table.snapshot, surviving))
        expired_snaps = list(ex.map(table.snapshot, sorted(expired)))
    referenced = {f["path"] for s in survivors for f in s.files}
    doomed: list[str] = []
    seen: set[str] = set()
    for s in expired_snaps:
        for f in s.files:
            if f["path"] in referenced or f["path"] in seen:
                continue
            seen.add(f["path"])
            doomed.append(os.path.join(table.path, f["path"]))
    deleted = table.data_fs.delete_batch(doomed)
    for sid in sorted(expired):
        table.fs.delete(os.path.join(table.meta_dir, f"v{sid:08d}.json"))
    return {"expired": len(expired), "data_files_deleted": deleted}
