"""Physical-plan quality gates: the properties the engine's scale
story depends on, asserted against .explain output so regressions
that silently de-optimize (lost pushdown, lost pruning, lost
broadcast) fail loudly."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.sources.log_reader import read_range


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planlog"))
    write_log(spark, d, LogSpec(n_events=2000, n_keys=300, n_snapshot=200))
    return d


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_lsn_filter_pushed_to_scan(spark, log_dir):
    df = read_range(spark, log_dir, 100, 900)
    plan = _explain(df)
    assert "PushedFilters" in plan
    assert "lsn" in plan.split("PushedFilters")[1][:200]


def test_bucket_partition_pruning(spark, log_dir):
    pruned = read_range(spark, log_dir, -1, 10_000, buckets=[0, 1])
    full = read_range(spark, log_dir, -1, 10_000)
    # partition filter present in the plan...
    plan = _explain(pruned)
    assert "lsn_bucket" in plan
    # ...and it actually reduces files read
    assert pruned.count() < full.count()


def test_column_pruning_reaches_scan(spark, log_dir):
    df = read_range(spark, log_dir, -1, 10_000).select("lsn", "op")
    plan = _explain(df)
    readschema = plan.split("ReadSchema")[1][:200]
    assert "after_json" not in readschema  # unselected wide col pruned


def test_filters_and_shaping_stay_in_codegen(spark, log_dir):
    from plugin_debezium_spark.operators.filters import drop_ddl

    df = drop_ddl(read_range(spark, log_dir, -1, 10_000)).select(
        "lsn", "op", F.sha2(F.col("after_json"), 256).alias("h")
    )
    plan = _explain(df, mode="codegen")
    assert "Found" in plan and "WholeStageCodegen subtrees" in plan
    assert not plan.startswith("Found 0")


def test_merge_uses_broadcast_anti_join(spark, log_dir, tmp_path):
    """The survivors anti-join must be a broadcast join (target data
    must not shuffle)."""
    captured = {}
    import plugin_debezium_spark.plans.lake as lake_mod

    orig = lake_mod.LakeTable.write_bucket_data

    def spy(self, df, snapshot_id, tag="d"):
        if tag == "keep":
            captured["plan"] = _explain(df, mode="simple")
        return orig(self, df, snapshot_id, tag)

    from plugin_debezium_spark.streaming.engine import EngineConfig, run

    lake_mod.LakeTable.write_bucket_data = spy
    try:
        run(
            spark,
            EngineConfig(
                log_dir=log_dir,
                table_dir=str(tmp_path / "t"),
                max_events_per_batch=1000,
            ),
        )
    finally:
        lake_mod.LakeTable.write_bucket_data = orig
    assert "BroadcastHashJoin" in captured["plan"].replace("Exec", "")
    assert "LeftAnti" in captured["plan"]