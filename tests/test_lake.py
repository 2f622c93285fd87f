"""Lake-table format: atomic commits, bucket pruning, mixed-schema
reads, idempotent epochs (reference analogues: AtomicStateTest.java:
72-255 state atomicity; CaptureTest.java:97-99 re-run==0)."""

import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.models import KEY_COLS
from plugin_debezium_spark.plans.evolve import evolve_schema
from plugin_debezium_spark.plans.lake import LakeTable, bucket_expr, bucket_of
from plugin_debezium_spark.plans.merge import merge_batch
from tests.test_epoch_summary import _last_job_id

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def _batch(spark, rows, with_op=True):
    cols = ["repo", "path", "commit", "content"] + (["op"] if with_op else [])
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_create_merge_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    merge_batch(
        t,
        _batch(spark, [("r", "a", "c1", "x", "c"), ("r", "b", "c2", "y", "c")]),
        epoch_id=0,
        last_lsn=10,
    )
    assert t.read().count() == 2
    # upsert + delete
    merge_batch(
        t,
        _batch(spark, [("r", "a", "c1", "x2", "u"), ("r", "b", "c2", None, "d")]),
        epoch_id=1,
        last_lsn=20,
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "x2"
    assert t.current().properties["last_lsn"] == 20


def test_epoch_idempotence(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    b = _batch(spark, [("r", "a", "c1", "x", "c")])
    merge_batch(t, b, epoch_id=0, last_lsn=10)
    out = merge_batch(t, b, epoch_id=0, last_lsn=10)
    assert out["skipped"] is True
    assert t.current().snapshot_id == 1


def test_bucket_pruned_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    rows = [("r", f"p{i}", "c", f"v{i}", "c") for i in range(50)]
    merge_batch(t, _batch(spark, rows), epoch_id=0, last_lsn=1)
    full = t.read()
    assert full.count() == 50
    some_bucket = full.withColumn(
        "_b", bucket_expr(KEY_COLS, 8)
    ).select("_b").first()[0]
    pruned = t.read(buckets=[some_bucket])
    assert 0 < pruned.count() < 50


def test_existing_column_int_to_long_widening(spark, tmp_path):
    """FIXTURES v3: a column created as int widens to long when a
    batch carries 64-bit values; old int files read back casted."""
    schema_int = T.StructType(
        SCHEMA.fields + [T.StructField("size_bytes", T.IntegerType(), True)]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema_int, n_buckets=2)
    b1 = spark.createDataFrame(
        pd.DataFrame(
            [("r", "a", "c1", "x", 100, "c")],
            columns=["repo", "path", "commit", "content", "size_bytes", "op"],
        ),
        schema="repo string, path string, commit string, content string,"
        " size_bytes int, op string",
    )
    merge_batch(t, b1, epoch_id=0, last_lsn=1)
    b2 = spark.createDataFrame(
        pd.DataFrame(
            [("r", "b", "c2", "y", 3_000_000_000, "c")],
            columns=["repo", "path", "commit", "content", "size_bytes", "op"],
        ),
        schema="repo string, path string, commit string, content string,"
        " size_bytes long, op string",
    )
    merge_batch(t, b2, epoch_id=1, last_lsn=2)
    df = t.read()
    assert df.schema["size_bytes"].dataType == T.LongType()
    got = {r["path"]: r["size_bytes"] for r in df.collect()}
    assert got == {"a": 100, "b": 3_000_000_000}


def test_mixed_schema_read_and_widening(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "x", "c")]), epoch_id=0, last_lsn=1
    )
    # evolved batch: extra long column
    b2 = spark.createDataFrame(
        pd.DataFrame(
            [("r", "b", "c2", "y", 3_000_000_000, "c")],
            columns=["repo", "path", "commit", "content", "size_bytes", "op"],
        )
    )
    merge_batch(t, b2, epoch_id=1, last_lsn=2)
    df = t.read()
    m = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert m["size_bytes"] == "bigint"
    got = {r["path"]: r["size_bytes"] for r in df.collect()}
    assert got == {"a": None, "b": 3_000_000_000}


def test_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    """A snapshot file without the pointer swap must not change reads
    (the reference refuses desynced state writes,
    AbstractDebeziumTask.java:700-732)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "x", "c")]), epoch_id=0, last_lsn=1
    )
    snap = t.current()
    # simulate: crashed writer left v99 on disk but never swapped _current
    orphan = os.path.join(t.meta_dir, "v00000099.json")
    with open(orphan, "w") as f:
        f.write(snap.to_json().replace('"snapshot_id": 1', '"snapshot_id": 99'))
    assert t.current().snapshot_id == 1
    assert t.read().count() == 1


def test_lww_guard_out_of_order_and_tombstones(spark, tmp_path):
    """Out-of-order batches: a late stale insert must not overwrite a
    newer row, and must not resurrect a deleted key (tombstones)."""
    fields = SCHEMA.fields + [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_ts_ms", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
    t = LakeTable.create(
        spark, str(tmp_path / "t"), T.StructType(fields), n_buckets=4
    )

    def batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                rows,
                columns=["repo", "path", "commit", "content", "_lsn", "_ts_ms", "op"],
            )
        )

    from plugin_debezium_spark.plans.merge import merge_batch

    # LATER events arrive first: upsert k1@lsn100, delete k2@lsn200
    merge_batch(
        t,
        batch([("r", "a", "c", "new", 100, 100, "u"),
               ("r", "b", "c", None, 200, 200, "d")]),
        epoch_id=0,
        last_lsn=200,
        lww_guard=True,
    )
    # stale batch arrives late: k1@lsn50 (older), k2@lsn60 (pre-delete)
    merge_batch(
        t,
        batch([("r", "a", "c", "stale", 50, 50, "u"),
               ("r", "b", "c", "zombie", 60, 60, "c")]),
        epoch_id=1,
        last_lsn=60,
        lww_guard=True,
    )
    rows = {r["path"]: r for r in t.read().collect()}
    assert rows["a"]["content"] == "new"  # stale insert lost
    assert "b" not in rows  # tombstone held; no resurrection
    with_tombs = t.read(include_deleted=True).collect()
    assert len(with_tombs) == 2


def test_concurrent_commit_rejected(spark, tmp_path):
    """Optimistic concurrency: a commit based on a stale snapshot is
    refused instead of silently overwriting the newer one."""
    from plugin_debezium_spark.plans.lake import ConcurrentCommitError

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "x", "c")]), epoch_id=0, last_lsn=1
    )
    basis = t.current().snapshot_id
    merge_batch(
        t, _batch(spark, [("r", "b", "c2", "y", "c")]), epoch_id=1, last_lsn=2
    )
    with pytest.raises(ConcurrentCommitError):
        t.commit([], set(), expected_parent=basis)
    # rows from the "interleaved" commit are intact
    assert t.read().count() == 2


def test_commit_contention_cas_retry(spark, tmp_path):
    """Six writers race commits against the same table with the
    standard CAS-retry loop (recompute basis on ConcurrentCommitError):
    every commit lands exactly once, the snapshot chain is linear, and
    no file set is lost — the multi-writer story an object-store
    catalog deployment needs."""
    from concurrent.futures import ThreadPoolExecutor

    from plugin_debezium_spark.plans.lake import (
        ConcurrentCommitError,
        bucket_expr,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    # data writes are serial Spark jobs; only the COMMITS race
    file_sets = []
    for i in range(6):
        df = _batch(
            spark, [(f"r{i}", f"p{i}", f"c{i}", f"v{i}")], with_op=False
        ).withColumn("_bucket", bucket_expr(KEY_COLS, 4))
        file_sets.append(t.write_bucket_data(df, 100 + i, tag=f"w{i}"))

    def committer(files):
        retries = 0
        while True:
            basis = t.current().snapshot_id
            try:
                t.commit(files, set(), expected_parent=basis)
                return retries
            except ConcurrentCommitError:
                retries += 1

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(committer, file_sets))
    snap = t.current()
    assert snap.snapshot_id == 6  # 0 (create) + 6 linear commits
    committed = {f["path"] for f in snap.files}
    expected = {f["path"] for fs in file_sets for f in fs}
    assert committed == expected
    assert t.read().count() == 6


def test_lookup_point_read(spark, tmp_path):
    """lookup() hits exactly the key's bucket (one file group) and
    returns the same row a full-scan filter would; partial keys are
    rejected."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    rows = [(f"r{i}", f"p{i}", f"c{i}", f"v{i}", "c") for i in range(20)]
    merge_batch(t, _batch(spark, rows), epoch_id=0, last_lsn=1)
    got = t.lookup(repo="r7", path="p7", commit="c7").collect()
    assert len(got) == 1 and got[0]["content"] == "v7"
    assert t.lookup(repo="nope", path="x", commit="y").count() == 0
    with pytest.raises(ValueError, match="missing"):
        t.lookup(repo="r7")


def test_lookup_launches_one_job(spark, tmp_path):
    """The key hashes to its bucket on the driver: a point read costs
    the one scan job; a non-string key part is refused."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=8)
    rows = [(f"r{i}", f"p{i}", f"c{i}", f"v{i}", "c") for i in range(20)]
    merge_batch(t, _batch(spark, rows), epoch_id=0, last_lsn=1)
    sc = spark.sparkContext
    first = _last_job_id(sc, "lookup-before")
    got = t.lookup(repo="r3", path="p3", commit="c3").collect()
    last = _last_job_id(sc, "lookup-after")
    assert [r["content"] for r in got] == ["v3"]
    assert last - first - 1 == 1
    with pytest.raises(TypeError):
        t.lookup(repo=3, path="p3", commit="c3")


def test_driver_bucket_matches_spark(spark):
    """bucket_of mirrors bucket_expr (Spark's seeded, chained xxhash64)
    on a case table reaching every tail branch of the hash: null, empty,
    non-ASCII and emoji parts of 0-100 characters (up to 400 bytes)."""
    rng = random.Random(42)
    chars = ["a", "Z", "7", "/", " ", "é", "ß", "中", "😀"]

    def part():
        if rng.random() < 0.08:
            return None
        return "".join(rng.choice(chars) for _ in range(rng.randint(0, 100)))

    keys = [(part(), part(), part()) for _ in range(3_000)]
    keys += [(None, None, None), ("", "", ""), ("a" * 32, None, "é")]
    keys += [("x" * n, "😀" * (n % 9), "") for n in range(101)]
    ns = (32, 7, 1024)
    got = (
        spark.createDataFrame(keys, "repo string, path string, commit string")
        .select(
            *KEY_COLS, *[bucket_expr(KEY_COLS, n).alias(f"b{n}") for n in ns]
        )
        .collect()
    )
    assert len(got) == len(keys)
    for r in got:
        for n in ns:
            assert bucket_of([r[c] for c in KEY_COLS], n) == r[f"b{n}"], (r, n)


def test_expire_snapshots_reclaims_unreferenced_files(spark, tmp_path):
    """Three COW epochs leave three generations of rewritten buckets on
    disk; expire_snapshots(keep_last=1) deletes every data file no
    retained snapshot references, keeps every file the current one
    does, and removes the retired manifests — final state unchanged."""
    import glob

    from plugin_debezium_spark.plans.compact import expire_snapshots

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    for i in range(3):
        merge_batch(
            t,
            _batch(spark, [("r", f"p{j}", "c", f"v{i}", "c") for j in range(4)]),
            epoch_id=i,
            last_lsn=i,
        )
    n_files_before = len(
        glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )
    before = {tuple(r) for r in t.read().collect()}
    stats = expire_snapshots(t, keep_last=1)
    assert stats["expired"] == 3  # create + epochs 0,1 retired
    assert stats["data_files_deleted"] > 0
    assert t.snapshots() == [3]
    # every retained-snapshot file still exists; table reads unchanged
    for f in t.current().files:
        assert os.path.exists(os.path.join(t.path, f["path"]))
    assert {tuple(r) for r in t.read().collect()} == before
    n_files_after = len(
        glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert n_files_after < n_files_before
    # idempotent / safe to re-run
    assert expire_snapshots(t, keep_last=1)["expired"] == 0


def test_expire_snapshots_survives_orphan_manifest(spark, tmp_path):
    """A crashed commit leaves a manifest with a HIGHER id than the
    live snapshot (pointer never swapped). Expiry must anchor on the
    _current chain: the live snapshot and the orphan stay untouched,
    reads stay bit-identical, and a re-run after real commits still
    works (expired ancestors break the parent walk gracefully)."""
    import json as _json

    from plugin_debezium_spark.plans.compact import expire_snapshots
    from plugin_debezium_spark.plans.lake import Snapshot

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(t, _batch(spark, [("r", "a", "c", "v0", "c")]), epoch_id=0, last_lsn=1)
    merge_batch(t, _batch(spark, [("r", "b", "c", "v1", "c")]), epoch_id=1, last_lsn=2)
    cur = t.current()
    # forge the crash state: orphan manifest id 99, pointer untouched
    orphan = Snapshot(**{**cur.__dict__, "snapshot_id": 99,
                         "parent_id": cur.snapshot_id})
    t.fs.write_atomic(
        os.path.join(t.meta_dir, "v00000099.json"), orphan.to_json()
    )
    before = {tuple(r) for r in t.read().collect()}
    stats = expire_snapshots(t, keep_last=1)
    assert stats["expired"] == 2  # snapshots 0 and 1, never 2 or 99
    assert t.current().snapshot_id == cur.snapshot_id
    assert 99 in t.snapshots()  # orphan left for a future commit/GC
    assert {tuple(r) for r in t.read().collect()} == before
    # re-run after another commit: parent chain ends at an expired id
    merge_batch(t, _batch(spark, [("r", "d", "c", "v2", "c")]), epoch_id=2, last_lsn=3)
    assert expire_snapshots(t, keep_last=1)["expired"] == 1
    assert t.read().count() == 3


def test_time_travel_reads(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "v1", "c")]), epoch_id=0, last_lsn=1
    )
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "v2", "u")]), epoch_id=1, last_lsn=2
    )
    assert t.snapshots() == [0, 1, 2]
    assert t.read_at(1).collect()[0]["content"] == "v1"
    assert t.read_at(2).collect()[0]["content"] == "v2"
    assert t.read_at(0).count() == 0  # empty table at creation
    # historical snapshot properties preserve the offset history
    assert t.snapshot(1).properties["last_lsn"] == 1


def test_evolve_schema_unit():
    t1 = T.StructType([T.StructField("a", T.LongType(), True)])
    b = T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),
            T.StructField("c", T.StringType(), True),
        ]
    )
    out, changes = evolve_schema(t1, b)
    assert [f.name for f in out.fields] == ["a", "c"]
    assert out["a"].dataType == T.DoubleType()
    assert len(changes) == 2


def test_stale_commit_lock_reclaimed(spark, tmp_path):
    """A crash while holding the commit lock must not brick the table:
    locks from dead pids (or older than the TTL) are reclaimed."""
    import json
    import os

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    lock = os.path.join(t.meta_dir, "_commit.lock")
    # a dead holder: pid from a long-gone process
    with open(lock, "w") as f:
        json.dump({"pid": 2_000_000_000, "ts": 0.0}, f)
    snap = t.commit([], replaced_buckets=set(), epoch_id=99)
    assert snap.properties["last_epoch_id"] == 99
    assert not os.path.exists(lock)


def test_live_lock_not_reclaimed(spark, tmp_path):
    import json
    import os
    import time

    from plugin_debezium_spark.plans.lake import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    lock = os.path.join(t.meta_dir, "_commit.lock")
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time()}, f)
    assert not LakeTable._lock_is_stale(
        t._read_lock_holder(lock), time.time()
    )
    os.unlink(lock)


def test_rebuild_schema_history_from_footers(spark, tmp_path):
    """Lake-native RECOVERY (reference snapshot mode RECOVERY,
    mysql/MysqlInterface.java:43-53): discard/corrupt the manifest's
    schema lineage, rebuild it from the data files' own parquet footer
    schemas, and reads come back with the exact evolved types."""
    from plugin_debezium_spark.plans.evolve import rebuild_schema_history

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t, _batch(spark, [("r", "a", "c1", "x", "c")]), epoch_id=0, last_lsn=1
    )
    b2 = spark.createDataFrame(
        pd.DataFrame(
            [("r", "b", "c2", "y", 3_000_000_000, "c")],
            columns=["repo", "path", "commit", "content", "size_bytes", "op"],
        )
    )
    merge_batch(t, b2, epoch_id=1, last_lsn=2)
    healthy = t.current()
    assert len(healthy.schemas) == 2  # lineage: base, +size_bytes

    # corrupt: schema history lost — lineage flattened to the ORIGINAL
    # schema, every file mapped to it (the failure RECOVERY exists for)
    t.commit_metadata(
        schemas=[healthy.schemas[0]],
        schema_id=0,
        files=[{**f, "schema_id": 0} for f in healthy.files],
        expected_parent=healthy.snapshot_id,
    )
    assert "size_bytes" not in t.read().columns  # visibly broken

    snap = rebuild_schema_history(t)
    assert snap.properties["schema_history_recovered"] is True
    # offsets survive the metadata-only commits (state stays usable)
    assert snap.properties["last_lsn"] == 2
    df = t.read()
    assert df.schema["size_bytes"].dataType == T.LongType()
    got = {r["path"]: r["size_bytes"] for r in df.collect()}
    assert got == {"a": None, "b": 3_000_000_000}


def test_rebuild_schema_history_noop_on_healthy_table(spark, tmp_path):
    """Rebuilding a healthy table's history must reproduce equivalent
    reads (idempotence of the recovery path)."""
    from plugin_debezium_spark.plans.evolve import rebuild_schema_history

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    merge_batch(
        t,
        _batch(spark, [("r", "a", "c1", "x", "c"), ("r", "b", "c2", "y", "c")]),
        epoch_id=0,
        last_lsn=5,
    )
    before = {(r["path"], r["content"]) for r in t.read().collect()}
    schema_before = t.current().schema()
    rebuild_schema_history(t)
    assert t.current().schema() == schema_before
    assert {(r["path"], r["content"]) for r in t.read().collect()} == before
