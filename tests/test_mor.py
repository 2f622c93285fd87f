"""Merge-on-read mode: append-only epochs, read-time LWW resolution,
compaction folding deltas back into base files."""

import pytest

from plugin_debezium_spark.plans.compact import compact
from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=3_000, n_keys=400, n_snapshot=300, epoch_size=1_000)


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