"""Proof that the icelite METADATA layer has no hidden POSIX
dependency: the full table lifecycle runs with snapshot manifests, the
_current pointer, and the commit lock living in an in-memory map
(plans/fs.InMemoryMetaFS) — the shape an object-store/catalog
deployment takes — while Spark keeps data files on local disk as
usual."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.plans.fs import InMemoryMetaFS, LocalMetaFS
from plugin_debezium_spark.plans.lake import (
    ConcurrentCommitError,
    LakeTable,
    bucket_expr,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _df(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return df.withColumn(
        "_bucket", bucket_expr(("repo", "path", "commit"), 4)
    )


def test_inmemory_fs_full_lifecycle(spark, tmp_path):
    fs = InMemoryMetaFS()
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=4, fs=fs)

    # metadata lives in the map, not on disk
    assert not os.path.exists(os.path.join(path, "metadata"))
    assert LakeTable.exists(path, fs=fs)
    assert not LakeTable.exists(path, fs=LocalMetaFS())

    files = t.write_bucket_data(
        _df(spark, [("r1", "p1", "c1", 1), ("r2", "p2", "c2", 2)]), 1
    )
    snap = t.commit(files, replaced_buckets=set(), epoch_id=0)
    assert snap.snapshot_id == 1

    # a second handle over the same map sees the committed state
    t2 = LakeTable(spark, path, fs=fs)
    got = {tuple(r) for r in t2.read().select("repo", "v").collect()}
    assert got == {("r1", 1), ("r2", 2)}
    assert t2.snapshots() == [0, 1]

    # optimistic concurrency still enforced through the abstraction
    with pytest.raises(ConcurrentCommitError):
        t2.commit(files, replaced_buckets=set(), expected_parent=0)

    # snapshot JSON round-trips through the map
    names = [k for k in fs.files if k.endswith(".json")]
    assert len(names) == 2
    assert "files" in json.loads(fs.files[sorted(names)[1]])


def test_inmemory_fs_stale_lock_reclaim(spark, tmp_path):
    fs = InMemoryMetaFS()
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=4, fs=fs)
    lock = os.path.join(t.meta_dir, "_commit.lock")
    # a dead holder's lock (bogus pid, ancient ts) must be reclaimed
    fs.files[lock] = json.dumps({"pid": 2**22 + 12345, "ts": time.time() - 9999})
    files = t.write_bucket_data(_df(spark, [("r1", "p1", "c1", 1)]), 1)
    snap = t.commit(files, replaced_buckets=set(), epoch_id=0)
    assert snap.snapshot_id == 1
    assert lock not in fs.files  # released after commit


def test_engine_replay_on_inmemory_metadata(spark, tmp_path):
    """Full engine replay with every piece of table metadata living in
    the in-memory store — exactly-once rerun included."""
    from plugin_debezium_spark.sources.genlog import LogSpec, write_log
    from plugin_debezium_spark.streaming.engine import EngineConfig, run

    fs = InMemoryMetaFS()
    log = write_log(
        spark,
        str(tmp_path / "log"),
        LogSpec(n_events=600, n_keys=120, n_snapshot=80, epoch_size=300),
    )
    cfg = EngineConfig(
        log_dir=log,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=300,
        meta_fs=fs,
    )
    out = run(spark, cfg)
    assert out["batches_applied"] == 2
    assert not os.path.exists(str(tmp_path / "tbl" / "metadata"))
    rerun = run(spark, cfg)
    assert rerun["batches_applied"] == 0
    rows = LakeTable(spark, cfg.table_dir, fs=fs).read().count()
    assert rows > 0


def test_inmemory_fs_exclusive_create_races():
    fs = InMemoryMetaFS()
    assert fs.create_exclusive("/x/lock", "a")
    assert not fs.create_exclusive("/x/lock", "b")
    assert fs.read_text("/x/lock") == "a"
    assert fs.rename_if_exists("/x/lock", "/x/claim")
    assert not fs.rename_if_exists("/x/lock", "/x/claim2")
    fs.delete("/x/claim")
    assert fs.create_exclusive("/x/lock", "c")


def test_expiry_routes_data_deletes_through_data_fs(spark, tmp_path):
    """expire_snapshots must never touch POSIX directly: metadata
    deletes go through MetaFS, data-file deletes through the DataFS
    boundary as ONE batch (the object-store deployment shape)."""
    from plugin_debezium_spark.plans.compact import expire_snapshots

    class RecordingDataFS:
        def __init__(self):
            self.batches = []

        def delete_batch(self, paths):
            self.batches.append(list(paths))
            return len(paths)

    fs = InMemoryMetaFS()
    dfs = RecordingDataFS()
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=4, fs=fs, data_fs=dfs)
    f1 = t.write_bucket_data(_df(spark, [("r1", "p1", "c1", 1)]), 1)
    t.commit(f1, replaced_buckets={0, 1, 2, 3}, epoch_id=0)
    f2 = t.write_bucket_data(_df(spark, [("r1", "p1", "c1", 2)]), 2)
    t.commit(f2, replaced_buckets={0, 1, 2, 3}, epoch_id=1)

    stats = expire_snapshots(t, keep_last=1)
    assert stats["expired"] == 2  # v0 (empty) + v1
    # exactly one batch, containing v1's files (f2 is still referenced)
    assert len(dfs.batches) == 1
    doomed = set(dfs.batches[0])
    assert {str(tmp_path / "t" / f["path"]) for f in f1} == doomed
    assert not any(str(tmp_path / "t" / f["path"]) in doomed for f in f2)
    # the recording FS did not actually delete: data still readable
    assert t.read().collect()[0]["v"] == 2
    # metadata deletes went through MetaFS (expired manifests gone)
    assert t.snapshots() == [2]
