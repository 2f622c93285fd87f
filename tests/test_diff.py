"""Incremental changelog out of the lake: table_diff between retained
snapshots matches a pandas golden diff of the same log cutoffs."""

import pandas as pd

from plugin_debezium_spark.plans.diff import table_diff
from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import golden_final_state, read_log_pandas

SPEC = LogSpec(n_events=3_000, n_keys=400, n_snapshot=300, epoch_size=1_000)


def _state_at(log: pd.DataFrame, hi: int) -> dict:
    """Golden LWW state at lsn ≤ hi via the canonical applier
    (tests/golden.py — truncate-aware, single definition): key →
    winning lsn."""
    g = golden_final_state(
        log[log["lsn"] <= hi].sort_values("lsn").reset_index(drop=True)
    )
    if g.empty:
        return {}
    # plain zip: itertuples mangles underscore-prefixed names (_lsn)
    return {
        (r, p, c): lsn
        for r, p, c, lsn in zip(
            g["repo"], g["path"], g["commit"], g["_lsn"], strict=True
        )
    }


def test_table_diff_matches_golden_cutoffs(spark, tmp_path):
    log_dir = write_log(spark, str(tmp_path / "log"), SPEC)
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=1_000,
    )
    run(spark, cfg)
    t = LakeTable(spark, cfg.table_dir)
    snaps = t.snapshots()
    assert len(snaps) >= 3  # create + ≥3 epochs
    mid = snaps[1]  # after the first epoch
    t1 = int(t.snapshot(mid).properties["last_lsn"])

    log = read_log_pandas(log_dir)
    s1 = _state_at(log, t1)
    s2 = _state_at(log, int(log["lsn"].max()))
    expect = {}
    for key in set(s1) | set(s2):
        if key not in s1:
            expect[key] = ("c", s2[key])
        elif key not in s2:
            expect[key] = ("d", None)
        elif s1[key] != s2[key]:
            expect[key] = ("u", s2[key])

    got = {
        (r["repo"], r["path"], r["commit"]): (r["op"], r["_lsn"])
        for r in table_diff(t, mid).collect()
    }
    assert got == expect
    # deletes carry null payload; creates/updates carry the new row
    for r in table_diff(t, mid).collect():
        if r["op"] == "d":
            assert r["content"] is None and r["_lsn"] is None
        else:
            assert r["content"] is not None


def test_table_diff_same_snapshot_is_empty(spark, tmp_path):
    log_dir = write_log(
        spark,
        str(tmp_path / "log"),
        LogSpec(n_events=500, n_keys=100, n_snapshot=100, epoch_size=500),
    )
    cfg = EngineConfig(
        log_dir=log_dir, table_dir=str(tmp_path / "tbl")
    )
    run(spark, cfg)
    t = LakeTable(spark, cfg.table_dir)
    cur = t.current().snapshot_id
    assert table_diff(t, cur, cur).count() == 0


def test_table_diff_on_mor_snapshots(spark, tmp_path):
    """Diff must LWW-resolve merge-on-read snapshots (delta files +
    tombstones) before comparing — same answer as the COW table built
    from the same log."""
    log_dir = write_log(
        spark,
        str(tmp_path / "log"),
        LogSpec(n_events=1_500, n_keys=200, n_snapshot=200, epoch_size=500),
    )
    diffs = {}
    for mode in ("cow", "mor"):
        cfg = EngineConfig(
            log_dir=log_dir,
            table_dir=str(tmp_path / f"tbl_{mode}"),
            max_events_per_batch=500,
            merge_mode=mode,
        )
        run(spark, cfg)
        t = LakeTable(spark, cfg.table_dir)
        mid = t.snapshots()[1]
        diffs[mode] = {
            (r["repo"], r["path"], r["commit"]): (r["op"], r["_lsn"])
            for r in table_diff(t, mid).collect()
        }
    assert diffs["cow"] == diffs["mor"] and diffs["cow"]
