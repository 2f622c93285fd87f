"""Merge-on-read mode: append-only epochs, read-time LWW resolution,
compaction folding deltas back into base files, and copy-on-write
epochs over the deltas MOR epochs left behind — each rewritten bucket
left as one file set."""

import dataclasses
from collections import Counter

import pytest

from plugin_debezium_spark.plans.compact import compact
from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.plans.merge import (
    FOLD_MIN_TOUCHED,
    FOLD_ROWS_PER_BUCKET,
    WRITE_ROWS_PER_TASK,
    _fold_survivors,
)
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


def _two_writes(monkeypatch) -> list[str]:
    """Force the ordered merge's above-the-switch path (a separate
    survivors write): every test table is far below the switch.
    Returns the tags of the lake writes that follow."""
    import plugin_debezium_spark.plans.merge as merge_mod

    monkeypatch.setattr(merge_mod, "_fold_survivors", lambda *a: False)
    tags = []
    orig = LakeTable.write_bucket_data

    def spy(self, df, snapshot_id, tag="d", **kw):
        tags.append(tag)
        return orig(self, df, snapshot_id, tag, **kw)

    monkeypatch.setattr(LakeTable, "write_bucket_data", spy)
    return tags


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
    _cow_after_mor(spark, log_dir, tmp_path, then)


@pytest.mark.parametrize("then", ["cow", "cow_truncate"])
def test_cow_after_mor_two_writes_matches_golden(
    spark, log_dir, tmp_path, monkeypatch, then
):
    """The same mixed-mode cases through the separate survivors write
    (delta-bucket LWW resolution and the truncate filter on the path
    large targets take)."""
    tags = _two_writes(monkeypatch)
    _cow_after_mor(spark, log_dir, tmp_path, then)
    # one per COW epoch
    assert tags.count("keep") == {"cow": 1, "cow_truncate": 2}[then]


def _cow_after_mor(spark, log_dir, tmp_path, then):
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


ORDERED_CASES = ["replay", "truncate", "mor_then_cow"]


def _ordered_cow_run(spark, log_dir, tmp_path, case) -> tuple[str, str]:
    """An ordered COW replay (after one mor epoch in ``mor_then_cow``);
    returns (log, table_dir)."""
    log = log_dir
    if case == "truncate":
        # one TRUNCATE, in the last epoch: the epochs before it still
        # carry survivors
        spec = dataclasses.replace(SPEC, truncate_every=2_500)
        log = write_log(spark, str(tmp_path / "log"), spec)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t"), max_events_per_batch=1_000
    )
    if case == "mor_then_cow":
        run(spark, dataclasses.replace(cfg, merge_mode="mor", max_batches=1))
    run(spark, cfg)
    return log, cfg.table_dir


@pytest.mark.parametrize("case", ORDERED_CASES)
def test_ordered_cow_leaves_one_file_set_per_bucket(
    spark, log_dir, tmp_path, case
):
    """Below the survivors switch every ordered COW epoch rewrites each
    touched bucket into at most k files, k being _bucket_partitioned's
    salt fan-out, so compaction finds nothing to fold; the state still
    equals the golden applier."""
    log, table_dir = _ordered_cow_run(spark, log_dir, tmp_path, case)
    t = LakeTable(spark, table_dir)
    par = spark.sparkContext.defaultParallelism
    cow_epochs = truncated = 0
    for sid in t.snapshots():
        snap = t.snapshot(sid)
        new = [f for f in snap.files if f["path"].startswith(f"data/snap-{sid}-")]
        if snap.summary.get("operation") != "epoch" or new[0]["kind"] == "delta":
            continue
        cow_epochs += 1
        truncated += "t" in snap.summary["ops"]
        touched = {f["bucket"] for f in new}
        k = max(1, -(-2 * par // len(touched)))
        per_bucket = Counter(f["bucket"] for f in snap.files)
        assert max(per_bucket[b] for b in touched) <= k, (sid, per_bucket)
    assert cow_epochs == (2 if case == "mor_then_cow" else 3)
    assert compact(t, min_files_per_bucket=2)["compacted_buckets"] == 0
    assert bool(truncated) == (case == "truncate")
    pdf = read_log_pandas(log)
    assert _hashes(spark, table_dir) == golden_key_hashes(pdf)


@pytest.mark.parametrize("case", ORDERED_CASES)
def test_ordered_cow_two_writes_matches_golden(
    spark, log_dir, tmp_path, monkeypatch, case
):
    """The same replays through the separate survivors write: the state
    equals the golden applier."""
    tags = _two_writes(monkeypatch)
    log, table_dir = _ordered_cow_run(spark, log_dir, tmp_path, case)
    assert tags.count("keep") == 2  # every epoch with a target
    pdf = read_log_pandas(log)
    assert _hashes(spark, table_dir) == golden_key_hashes(pdf)


def test_survivors_switch_boundary():
    """The ordered merge folds its survivors into the upserts' write
    only while at least FOLD_MIN_TOUCHED buckets are rewritten and
    their files hold at most FOLD_ROWS_PER_BUCKET rows per bucket
    (manifest counts)."""
    assert _fold_survivors(0, 32)
    assert _fold_survivors(FOLD_ROWS_PER_BUCKET * 32, 32)
    assert not _fold_survivors(FOLD_ROWS_PER_BUCKET * 32 + 1, 32)
    n = FOLD_MIN_TOUCHED
    assert _fold_survivors(FOLD_ROWS_PER_BUCKET * n, n)
    assert not _fold_survivors(FOLD_ROWS_PER_BUCKET * n + 1, n)
    # fewer touched buckets: two writes, however small the target
    assert not _fold_survivors(0, FOLD_MIN_TOUCHED - 1)
    assert not _fold_survivors(100, 4)
    # the benchmark's epoch-2 target: ~10k rows over 32 buckets
    assert _fold_survivors(10_000, 32)
    # bench.py's 16M replay: 1.6M keys over 32 buckets (~45-50k live
    # rows per bucket at epoch 2) keeps the two writes, as does any
    # target of more than WRITE_ROWS_PER_TASK rows per touched bucket
    assert not _fold_survivors(45_000 * 32, 32)
    assert not _fold_survivors(1_600_000, 32)
    assert not _fold_survivors(WRITE_ROWS_PER_TASK * 32 + 1, 32)
