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


def _plan_nodes(df) -> list[str]:
    """One line per node of df's physical plan (AQE's initial plan),
    not descending into cached relations: the cached batch's own
    shuffles ran when it was materialized."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node.simpleString(25))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _merge_write_plans(spark, log_dir, table_dir) -> dict:
    """The physical plan of each merge write of a replay, by write tag
    (the last epoch's)."""
    import plugin_debezium_spark.plans.lake as lake_mod
    from plugin_debezium_spark.streaming.engine import EngineConfig, run

    captured = {}
    orig = lake_mod.LakeTable.write_bucket_data

    def spy(self, df, snapshot_id, tag="d", **kw):
        captured[tag] = _plan_nodes(df)
        return orig(self, df, snapshot_id, tag, **kw)

    lake_mod.LakeTable.write_bucket_data = spy
    try:
        cfg = EngineConfig(
            log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1000
        )
        assert run(spark, cfg)["batches_applied"] >= 2
    finally:
        lake_mod.LakeTable.write_bucket_data = orig
    return captured


def _broadcast_anti_join(nodes: list[str]) -> bool:
    return any(
        n.startswith("BroadcastHashJoin") and "LeftAnti" in n for n in nodes
    )


def test_merge_large_target_keeps_survivors_unshuffled(
    spark, log_dir, tmp_path, monkeypatch
):
    """Above the survivors switch the anti-join must be a broadcast
    join and the survivors write must not shuffle the target data."""
    import plugin_debezium_spark.plans.merge as merge_mod

    monkeypatch.setattr(merge_mod, "_fold_survivors", lambda *a: False)
    plans = _merge_write_plans(spark, log_dir, str(tmp_path / "t"))
    keep = plans["keep"]
    assert _broadcast_anti_join(keep)
    exchanges = [n for n in keep if "Exchange" in n]
    assert exchanges and all(n.startswith("BroadcastExchange") for n in exchanges)


def test_merge_small_target_writes_survivors_with_upserts(
    spark, log_dir, tmp_path
):
    """Below the switch the survivors (still a broadcast anti-join)
    join the upserts: one write, one bucket shuffle."""
    plans = _merge_write_plans(spark, log_dir, str(tmp_path / "t"))
    assert "keep" not in plans
    ups = plans["ups"]
    assert _broadcast_anti_join(ups)
    shuffles = [n for n in ups if n.startswith("Exchange")]
    assert len(shuffles) == 1 and "hashpartitioning(_bucket" in shuffles[0]
