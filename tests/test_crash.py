"""Crash-window coverage: a failure after data files are written but
BEFORE the snapshot commit must leave the table on its previous
snapshot; the retried epoch then produces the correct state (orphan
files from the failed attempt are harmless garbage)."""

import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=2_000, n_keys=300, n_snapshot=200, epoch_size=1000)


def test_crash_between_write_and_commit(spark, tmp_path, monkeypatch):
    log = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=1_000,
    )
    # first epoch applies cleanly
    run(
        spark,
        EngineConfig(**{**cfg.__dict__, "max_batches": 1}),
    )
    t = LakeTable(spark, cfg.table_dir)
    snap_before = t.current().snapshot_id
    rows_before = t.read().count()

    # crash the NEXT epoch right before its snapshot commit
    import plugin_debezium_spark.plans.lake as lake_mod

    orig_commit = lake_mod.LakeTable.commit

    def exploding_commit(self, *a, **kw):
        raise RuntimeError("simulated crash between data write and commit")

    monkeypatch.setattr(lake_mod.LakeTable, "commit", exploding_commit)
    with pytest.raises(Exception, match="simulated crash"):
        run(spark, cfg)
    monkeypatch.setattr(lake_mod.LakeTable, "commit", orig_commit)

    # old snapshot fully intact (reader isolation)
    t2 = LakeTable(spark, cfg.table_dir)
    assert t2.current().snapshot_id == snap_before
    assert t2.read().count() == rows_before

    # retry completes and matches the golden applier
    run(spark, cfg)
    got = {
        tuple(r)
        for r in LakeTable(spark, cfg.table_dir)
        .read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == golden_key_hashes(read_log_pandas(log))