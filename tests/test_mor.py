"""Merge-on-read mode: append-only epochs, read-time LWW resolution,
compaction folding deltas back into base files, and copy-on-write
epochs over the deltas MOR epochs left behind."""

import dataclasses

import pytest

from plugin_debezium_spark.plans.compact import compact
from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=3_000, n_keys=400, n_snapshot=300, epoch_size=1_000)
TRUNC_SPEC = LogSpec(
    n_events=3_000, n_keys=400, n_snapshot=300, epoch_size=1_000,
    truncate_every=700,
)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    return write_log(spark, str(tmp_path_factory.mktemp("mor")), SPEC)


def _hashes(spark, td):
    return {
        tuple(r)
        for r in LakeTable(spark, td)
        .read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }


def test_mor_replay_matches_golden(spark, log_dir, tmp_path):
    td = str(tmp_path / "t")
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=td,
        max_events_per_batch=1_000,
        merge_mode="mor",
    )
    out = run(spark, cfg)
    assert out["batches_applied"] == 3
    t = LakeTable(spark, td)
    # every epoch appended deltas; nothing was rewritten
    kinds = {f.get("kind", "base") for f in t.current().files}
    assert kinds == {"delta"}
    assert _hashes(spark, td) == golden_key_hashes(read_log_pandas(log_dir))
    # exactly-once
    assert run(spark, cfg)["batches_applied"] == 0


def test_mor_time_travel_resolves(spark, log_dir, tmp_path):
    """read_at must LWW-resolve delta files like read() (regression:
    it returned raw base+delta duplicates)."""
    td = str(tmp_path / "t")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=td,
            max_events_per_batch=1_000,
            merge_mode="mor",
        ),
    )
    t = LakeTable(spark, td)
    for s in t.snapshots()[1:]:
        df = t.read_at(s)
        n_rows = df.count()
        n_keys = df.select("repo", "path", "commit").distinct().count()
        assert n_rows == n_keys  # resolved: one live row per key


def test_mor_compaction_folds_deltas(spark, log_dir, tmp_path):
    td = str(tmp_path / "t")
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=td,
        max_events_per_batch=1_000,
        merge_mode="mor",
    )
    run(spark, cfg)
    before = _hashes(spark, td)
    t = LakeTable(spark, td)
    n_files_before = len(t.current().files)
    out = compact(t, min_files_per_bucket=2)
    assert out["compacted_buckets"] > 0
    t2 = LakeTable(spark, td)
    assert len(t2.current().files) < n_files_before
    assert {f.get("kind") for f in t2.current().files} == {"base"}
    assert _hashes(spark, td) == before
    # MOR epochs continue cleanly after compaction
    # (no new events; replay is a no-op but the table stays readable)
    assert run(spark, cfg)["batches_applied"] == 0
    assert _hashes(spark, td) == before


@pytest.mark.parametrize("then", ["cow", "lww_guard", "cow_truncate"])
def test_cow_after_mor_matches_golden(spark, log_dir, tmp_path, then):
    """MOR epochs, then copy-on-write epochs on the same table: the
    touched buckets hold base and delta files, so the rewrite must
    LWW-resolve them (the ordered merge before its anti-join, the
    lww_guard merge together with the batch) instead of copying
    duplicates or resurrecting tombstoned keys. In ``cow_truncate`` a
    TRUNCATE of an ordered epoch kills delta rows too; the MOR epoch
    before it dropped its own 't' events, so the golden log lacks
    those."""
    log = log_dir
    if then == "cow_truncate":
        log = write_log(spark, str(tmp_path / "log"), TRUNC_SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t"), max_events_per_batch=1_000
    )
    n_mor = 1 if then == "cow_truncate" else 2
    run(
        spark,
        dataclasses.replace(
            cfg, merge_mode="mor", truncate_policy="drop", max_batches=n_mor
        ),
    )
    t = LakeTable(spark, cfg.table_dir)
    assert {f["kind"] for f in t.current().files} == {"delta"}
    mor_lsn = int(t.current().properties["last_lsn"])

    out = run(spark, dataclasses.replace(cfg, lww_guard=then == "lww_guard"))
    assert out["batches_applied"] == 3 - n_mor
    pdf = read_log_pandas(log)
    t_lsns = pdf.loc[pdf["op"] == "t", "lsn"]
    if then == "cow_truncate":
        assert (t_lsns > mor_lsn).any(), "an ordered epoch must truncate"
    pdf = pdf[~((pdf["op"] == "t") & (pdf["lsn"] <= mor_lsn))]
    assert _hashes(spark, cfg.table_dir) == golden_key_hashes(pdf)
