"""Structured Streaming delivery (K2) + connector config surface (S4)."""

import pandas as pd
import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.connectors import (
    CONNECTORS,
    MongoConfig,
    MySqlConfig,
    PostgresConfig,
    SnapshotMode,
)
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig
from plugin_debezium_spark.streaming.realtime import run_available_now
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=2_000, n_keys=300, n_snapshot=200, epoch_size=500)


def test_streaming_available_now_matches_golden(spark, tmp_path):
    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    run_available_now(spark, cfg, str(tmp_path / "ckpt"))
    t = LakeTable(spark, cfg.table_dir)
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_streaming_restart_is_noop(spark, tmp_path):
    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    run_available_now(spark, cfg, str(tmp_path / "ckpt"))
    snap = LakeTable(spark, cfg.table_dir).current().snapshot_id
    run_available_now(spark, cfg, str(tmp_path / "ckpt"))
    assert LakeTable(spark, cfg.table_dir).current().snapshot_id == snap


def test_streaming_graceful_stop_and_resume(spark, tmp_path):
    """L5: stop the stream mid-flight, restart from the checkpoint →
    final state correct and no duplicate application (the reference's
    engine close + offset replay, AbstractDebeziumRealtimeTrigger
    .java:215-256)."""
    import time

    from plugin_debezium_spark.streaming.realtime import stream_log

    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    q = stream_log(
        spark,
        cfg,
        str(tmp_path / "ckpt"),
        available_now=False,
        processing_time="1 seconds",
        max_files_per_trigger=2,
    )
    # let it chew a couple of micro-batches, then stop mid-stream
    deadline = time.time() + 60
    while time.time() < deadline and not LakeTable.exists(cfg.table_dir):
        time.sleep(0.5)
    time.sleep(3)
    q.stop()
    q.awaitTermination(30)
    # resume with availableNow to drain the rest
    run_available_now(spark, cfg, str(tmp_path / "ckpt"))
    t = LakeTable(spark, cfg.table_dir)
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_connector_property_mapping():
    my = MySqlConfig(
        hostname="db1",
        username="u",
        password="p",
        table_include_list=["shop.orders", "shop.items,v2"],
        snapshot_mode=SnapshotMode.INITIAL_ONLY,
        properties={"custom.knob": "1"},
    )
    p = my.to_properties()
    assert p["connector.class"] == "mysql"
    assert p["database.server.id"] == "5400"
    assert p["snapshot.mode"] == "initial_only"
    # comma escaping like reference joinProperties
    assert p["table.include.list"] == "shop.orders,shop.items\\,v2"
    assert p["custom.knob"] == "1"

    pg = PostgresConfig(slot_name="s1", publication_name="pub")
    pp = pg.to_properties()
    assert pp["plugin.name"] == "pgoutput" and pp["slot.name"] == "s1"

    mongo = MongoConfig(connection_string="mongodb://x:27017")
    assert mongo.to_properties()["capture.mode"] == "change_streams_update_full"
    assert set(CONNECTORS) == {
        "mysql", "postgres", "sqlserver", "oracle", "db2", "mongodb"
    }


def test_connector_regexes_feed_filters():
    cfg = MySqlConfig(
        database_include_list=["shop", "crm"], table_exclude_list=["tmp.*"]
    )
    rx = cfg.include_exclude_regexes()
    assert rx["db_include"] == "(?:shop)|(?:crm)"
    assert rx["table_exclude"] == "(?:tmp.*)"
    assert rx["db_exclude"] is None


def test_stream_after_batch_engine_does_not_skip(spark, tmp_path):
    """A table populated by the batch engine (epoch ids 0..N) then
    drained via stream_log (batch ids restarting at 0) must apply every
    micro-batch — the stream's idempotence guard is scoped to its
    checkpoint, not the shared epoch counter."""
    from plugin_debezium_spark.streaming.engine import run

    log = write_log(spark, str(tmp_path / "log"), SPEC)
    table_dir = str(tmp_path / "tbl")
    # batch engine consumes the first half only (several epochs so
    # last_epoch_id > any early stream batch id)
    cfg = EngineConfig(
        log_dir=log, table_dir=table_dir,
        max_events_per_batch=250, max_batches=4,
    )
    run(spark, cfg)
    assert LakeTable(spark, table_dir).current().properties[
        "last_epoch_id"
    ] >= 3
    # now drain the WHOLE log via streaming on the same table — before
    # the checkpoint-scoped guard, micro-batches 0..3 were skipped
    run_available_now(spark, cfg, str(tmp_path / "ckpt"))
    got = {
        tuple(r)
        for r in LakeTable(spark, table_dir)
        .read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_connector_engine_overrides():
    c = MySqlConfig(
        snapshot_mode=SnapshotMode.NEVER,
        database_include_list=["db1"],
        table_include_list=["t1", "t2"],
    )
    o = c.engine_overrides()
    assert o["snapshot_mode"] == "NEVER"
    assert o["db_include"] == "(?:db1)"
    assert o["table_include"] == "(?:t1)|(?:t2)"
    cfg = EngineConfig(log_dir="x", table_dir="y", **o)
    assert cfg.snapshot_mode == "NEVER"


def test_column_include_exclude_regex(spark):
    from plugin_debezium_spark.operators.filters import (
        column_include_exclude,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"repo": ["r"], "path": ["p"], "secret_ssn": ["x"]})
    )
    out = column_include_exclude(df, include="repo|path|secret_.*",
                                 exclude="secret_.*")
    assert out.columns == ["repo", "path"]


def test_streaming_mor_appends_deltas_and_compacts(spark, tmp_path):
    """The streaming applier's default path: each micro-batch APPENDS
    delta files (epoch cost O(batch), zero target I/O) and the cadence
    compaction folds them back — final state still golden."""
    from plugin_debezium_spark.streaming.realtime import stream_log

    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    q = stream_log(
        spark,
        cfg,
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=8,
        merge_mode="mor",
        compact_every=4,
        expire_keep_last=None,  # keep history: this test audits it
    )
    q.awaitTermination()
    t = LakeTable(spark, cfg.table_dir)
    # delta epochs were appended along the way (proof the stream never
    # took the COW rewrite), and the cadence compaction ran (some
    # snapshot is marked compacted)
    kinds_seen = set()
    compacted = False
    for sid in t.snapshots():
        s = t.snapshot(sid)
        kinds_seen |= {f.get("kind", "base") for f in s.files}
        compacted = compacted or s.properties.get("compacted", False)
    assert "delta" in kinds_seen
    assert compacted
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_streaming_cow_mode_matches_golden(spark, tmp_path):
    """merge_mode='cow' keeps the read-optimized lww_guard rewrite."""
    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    run_available_now(spark, cfg, str(tmp_path / "ckpt"), merge_mode="cow")
    t = LakeTable(spark, cfg.table_dir)
    for sid in t.snapshots():
        assert all(
            f.get("kind", "base") != "delta" for f in t.snapshot(sid).files
        )
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_streaming_expiry_bounds_disk_to_table_size(spark, tmp_path):
    """Long-running stream hygiene: cadence expiry retires snapshots
    past expire_keep_last and reclaims their unreferenced files, so
    disk tracks TABLE size, not stream length — while the final state
    stays golden."""
    import os

    from plugin_debezium_spark.plans.lake import LakeTable
    from plugin_debezium_spark.streaming.realtime import stream_log

    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    q = stream_log(
        spark,
        cfg,
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=4,  # ~16 micro-batches
        merge_mode="mor",
        compact_every=4,
        expire_keep_last=2,
    )
    q.awaitTermination()
    t = LakeTable(spark, cfg.table_dir)
    # history pruned to the retention window (+ commits after the last
    # cadence point)
    assert len(t.snapshots()) <= 2 + 4
    # every parquet on disk is referenced by SOME retained snapshot
    # (expiry reclaimed the rest)
    on_disk = set()
    for root, _d, names in os.walk(t.data_dir):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(
                    os.path.relpath(os.path.join(root, n), t.path)
                )
    referenced = {
        f["path"] for sid in t.snapshots() for f in t.snapshot(sid).files
    }
    assert on_disk == referenced
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_cadence_maintenance_race_does_not_kill_stream(
    spark, tmp_path, monkeypatch
):
    """A concurrent writer can make the cadence compaction lose its
    optimistic-commit race; the stream must swallow that and retry
    next cadence, not terminate."""
    from plugin_debezium_spark.plans import compact as compact_mod
    from plugin_debezium_spark.plans.lake import ConcurrentCommitError
    from plugin_debezium_spark.streaming.realtime import stream_log

    calls = {"n": 0}

    def _boom(*a, **kw):
        calls["n"] += 1
        raise ConcurrentCommitError("simulated concurrent writer")

    monkeypatch.setattr(compact_mod, "compact", _boom)
    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl")
    )
    q = stream_log(
        spark,
        cfg,
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=8,
        merge_mode="mor",
        compact_every=2,
    )
    q.awaitTermination()  # must NOT raise
    assert calls["n"] >= 1  # the cadence did fire and did lose races
    t = LakeTable(spark, cfg.table_dir)
    got = {
        tuple(r)
        for r in t.read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))


def test_streaming_schema_only_pins_start_position(spark, tmp_path):
    """stream_log honors SCHEMA_ONLY/NO_DATA positionally (engine
    parity): historical stream events below the pinned hwm are
    skipped, not just op='r' rows; events arriving after first start
    apply."""
    import os
    import shutil

    full = write_log(spark, str(tmp_path / "full"), SPEC)
    staged = str(tmp_path / "log")
    os.makedirs(staged)
    names = sorted(
        n for n in os.listdir(full) if n.startswith("lsn_bucket=")
    )
    split = 40
    for n in names:
        if int(n.split("=")[1]) < split:
            shutil.copytree(f"{full}/{n}", f"{staged}/{n}")
    cfg = EngineConfig(
        log_dir=staged,
        table_dir=str(tmp_path / "tbl"),
        snapshot_mode="SCHEMA_ONLY",
    )
    ck = str(tmp_path / "ckpt")
    run_available_now(spark, cfg, ck)
    t = LakeTable(spark, cfg.table_dir)
    assert t.read().count() == 0  # nothing historical applied
    pdf = read_log_pandas(full)
    hwm = int(pdf[pdf["lsn_bucket"] < split]["lsn"].max())
    props = t.current().properties
    pin_keys = [k for k in props if k.startswith("schema_only_pin:")]
    assert pin_keys and int(props[pin_keys[0]]) == hwm  # durable pin

    for n in names:
        if int(n.split("=")[1]) >= split:
            shutil.copytree(f"{full}/{n}", f"{staged}/{n}")
    run_available_now(spark, cfg, ck)
    tail = pdf[(pdf["lsn"] > hwm) & (pdf["op"] != "r")]
    got = {
        tuple(r)
        for r in LakeTable(spark, cfg.table_dir)
        .read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(tail)
