"""Each epoch's summary commits inside its snapshot (Delta's
commitInfo, Iceberg's snapshot summary) and is read back with
``LakeTable.history()``:

1. the summary is atomic with the data: a crash before the pointer
   swap leaves neither behind, the resumed run commits both, and the
   history has one row per epoch over contiguous LSN slices;
2. its counts ride the epoch's one stats action (``_epoch_agg``), so a
   replay launches no more Spark jobs than it did with the old
   separate metrics writes switched off, in every merge mode;
3. the grouped stats action folds per-(op, stream) schemas on the
   driver to exactly the type one global ``schema_of_variant_agg``
   infers;
4. commits that are not epochs record their own summary and never
   inherit an epoch's.
"""

import dataclasses
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.plans.compact import compact, expire_snapshots
from plugin_debezium_spark.plans.fs import LocalMetaFS
from plugin_debezium_spark.plans.lake import LakeTable, Snapshot
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming import engine
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import read_log_pandas

SPEC = LogSpec(n_events=4_000, n_keys=600, n_snapshot=400, epoch_size=1_000)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("log"))
    write_log(spark, d, SPEC)
    return d


def _epoch_rows(table: LakeTable) -> list:
    return [
        r
        for r in table.history().orderBy("snapshot_id").collect()
        if r["operation"] == "epoch"
    ]


def _expected_ops(pdf, lo: int, hi: int) -> dict:
    """Per-op (winners, min lsn, max lsn) of the log slice [lo, hi]
    after last-writer-wins per key."""
    sl = pdf[(pdf["lsn"] >= lo) & (pdf["lsn"] <= hi)]
    keys = sl["key"].map(lambda k: (k["repo"], k["path"], k["commit"]))
    winners = sl.assign(_k=keys).sort_values("lsn").groupby("_k").tail(1)
    return {
        op: (len(g), int(g["lsn"].min()), int(g["lsn"].max()))
        for op, g in winners.groupby("op")
    }


def test_summary_commits_atomically_with_the_epoch(
    spark, log_dir, tmp_path, monkeypatch
):
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=1_000,
    )
    run(spark, dataclasses.replace(cfg, max_batches=1))
    t = LakeTable(spark, cfg.table_dir)
    before = t.current().snapshot_id

    # fail the next epoch after its data files AND its manifest (which
    # holds the summary) are written, right at the pointer swap
    orig = LocalMetaFS.write_atomic

    def swap_fails(self, path, text):
        if path.endswith("_current"):
            raise RuntimeError("simulated crash before the pointer swap")
        return orig(self, path, text)

    monkeypatch.setattr(LocalMetaFS, "write_atomic", swap_fails)
    with pytest.raises(Exception, match="simulated crash"):
        run(spark, cfg)
    monkeypatch.setattr(LocalMetaFS, "write_atomic", orig)

    assert t.current().snapshot_id == before
    assert before + 1 in t.snapshots()  # the orphan manifest is on disk
    assert [r["epoch_id"] for r in _epoch_rows(t)] == [0]

    out = run(spark, cfg)
    hist = _epoch_rows(t)
    assert [r["epoch_id"] for r in hist] == [0, 1, 2, 3]
    assert hist[0]["lsn_lo"] == 0
    for prev, cur in zip(hist, hist[1:]):
        assert cur["lsn_lo"] == prev["lsn_hi"] + 1  # no gap, no overlap
    pdf = read_log_pandas(log_dir)
    assert hist[-1]["lsn_hi"] == int(pdf["lsn"].max())
    assert hist[-1]["lsn_hi"] == t.current().properties["last_lsn"]
    for r in hist:
        ops = {
            op: (v["n_events"], v["lsn_lo"], v["lsn_hi"])
            for op, v in r["ops"].items()
        }
        assert ops == _expected_ops(pdf, r["lsn_lo"], r["lsn_hi"])
        assert r["streams"] == {
            "kestra.repofiles": sum(n for n, _, _ in ops.values())
        }
        assert r["files_added"] > 0 and r["rows_added"] > 0
    # run() returns exactly the summaries it committed
    assert [s["summary"] for s in out["epochs"]] == [
        json.loads(r["summary"]) for r in hist[1:]
    ]

    # exactly-once: a re-run applies nothing and adds no row
    n_rows = t.history().count()
    assert run(spark, cfg)["batches_applied"] == 0
    assert t.history().count() == n_rows
    assert not os.path.exists(os.path.join(cfg.table_dir, "metrics"))


# Spark jobs a 4-epoch replay of JOB_SPEC launches through the ordered
# copy-on-write merge: 64 while lineage was still written by separate
# per-epoch metrics writes, measured with those writes switched off (92
# with them on); 56 with the summary inside the snapshot, measured
# while each merge mode still had its own merge function (the same at
# local[4] and local[8]). One merge body must not add a job. 51 since
# the survivors of a small touched target ride the upserts' write
# instead of a write job of their own (measured here, local[4] and
# local[8]).
JOB_SPEC = LogSpec(
    n_events=20_000, n_keys=2_000, n_snapshot=2_000, epoch_size=5_000
)
JOBS_COW = 51
# the same replay through the two tombstone-keeping merges, measured
# alongside JOBS_COW: merge_mode="mor" (delta appends, no target read)
# and lww_guard=True (the touched buckets rewritten LWW-resolved)
JOBS_MOR = 48
JOBS_LWW_GUARD = 52
# Spark jobs of an INCREMENTAL run over the same log (a 3-file source
# dump at a quarter of it: 3 chunks interleaved with 4 epochs), measured
# while each INCREMENTAL epoch still ran through its own unpipelined
# loop (local[4]). Folding the epochs into the prefetching loop moves
# each epoch's prepare and stats off the main thread; it must not add
# a job.
JOBS_INCREMENTAL = 73


def _last_job_id(sc, group: str) -> int:
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def _source_dump(spark, log: str, out: str) -> tuple[str, int]:
    """The source table's state at a quarter of the log (LWW of the
    events up to it, the winner's position as src_lsn), in 3 files."""
    df = spark.read.parquet(log)
    s_pos = int(df.agg(F.max("lsn")).collect()[0][0] // 4)
    w = (
        df.filter(F.col("lsn") <= s_pos)
        .groupBy(
            F.col("key.repo").alias("repo"),
            F.col("key.path").alias("path"),
            F.col("key.commit").alias("commit"),
        )
        .agg(F.max_by(F.struct("op", "after_json", "lsn"), "lsn").alias("w"))
        .filter(F.col("w.op") != "d")
    )
    w.select(
        "repo",
        "path",
        "commit",
        F.get_json_object("w.after_json", "$.lang").alias("lang"),
        F.get_json_object("w.after_json", "$.content").alias("content"),
        F.col("w.lsn").alias("src_lsn"),
    ).repartition(3, "repo", "path", "commit").write.parquet(out)
    return out, s_pos


@pytest.mark.parametrize(
    "mode", ["replay", "mor", "lww_guard", "incremental"]
)
def test_epoch_summary_launches_no_extra_jobs(spark, tmp_path, mode):
    log = write_log(spark, str(tmp_path / "log"), JOB_SPEC)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "tbl"), max_events_per_batch=5_000
    )
    bound, n_epochs = JOBS_COW, 4
    if mode == "mor":
        cfg = dataclasses.replace(cfg, merge_mode="mor")
        bound = JOBS_MOR
    elif mode == "lww_guard":
        cfg = dataclasses.replace(cfg, lww_guard=True)
        bound = JOBS_LWW_GUARD
    elif mode == "incremental":
        src, s_pos = _source_dump(spark, log, str(tmp_path / "dump"))
        cfg = dataclasses.replace(
            cfg,
            snapshot_mode="INCREMENTAL",
            incremental_source_dir=src,
            incremental_source_lsn=s_pos,
            incremental_lsn_col="src_lsn",
            incremental_chunk_rows=1,  # one chunk per file
        )
        bound = JOBS_INCREMENTAL
    sc = spark.sparkContext
    first = _last_job_id(sc, "summary-jobs-before")
    out = run(spark, cfg)
    last = _last_job_id(sc, "summary-jobs-after")
    assert out["batches_applied"] == n_epochs
    if mode == "incremental":
        assert out["chunks_applied"] == out["chunks_total"] == 3
    assert last - first - 1 <= bound
    # history() is a driver-side local relation: no job until it is read
    hist = LakeTable(spark, cfg.table_dir).history()
    assert _last_job_id(sc, "summary-jobs-history") == last + 1
    assert hist.filter(F.col("operation") == "epoch").count() == n_epochs
    assert not os.path.exists(os.path.join(cfg.table_dir, "metrics"))


# --- the schema fold ---------------------------------------------------------

MERGE_CASES = [
    ['{"a":1}', '{"a":2.5}'],
    ['{"a":1}', '{"a":"x"}'],
    ['{"a":1.5}', '{"a":1e300}'],
    ['{"a":[1]}', '{"a":["x"]}'],
    ['{"a":null}', '{"a":1}'],
    ['{"b":1}', '{"a":1}'],
    ['{"a":{"x":1}}', '{"a":1}'],
    ['{"a":1.25}', '{"a":123.5}'],
    ['{"a":12345678901234567890123}', '{"a":1}'],
    ['{"a":true}', '{"a":1}'],
    ['{"a":[]}', '{"a":[1]}'],
    ['{"a":{"y":1}}', '{"a":{"x":"s"}}'],
    ['{"a":1}', "[1]"],
    ['{"a":1}', "null"],
    ['{"a":0.000000000000000000000000000000001}', '{"a":1}'],
    ['{"a":99999999999}', '{"a":1.123456789012345678901234567}'],
]


def test_variant_type_merge_matches_spark(spark):
    rows = [(i, j) for i, case in enumerate(MERGE_CASES) for j in case]
    df = spark.createDataFrame(rows, "case int, j string").select(
        "case", F.expr("parse_json(j)").alias("v")
    )
    want = {
        r["case"]: engine._variant_type(r["s"])
        for r in df.groupBy("case")
        .agg(F.expr("schema_of_variant_agg(v)").alias("s"))
        .collect()
    }
    got: dict[int, T.DataType] = {}
    for r in df.select("case", F.expr("schema_of_variant(v)").alias("s")).collect():
        got[r["case"]] = engine._merge_variant_types(
            got.get(r["case"], T.NullType()), engine._variant_type(r["s"])
        )
    for case, t in want.items():
        assert got[case] == t, MERGE_CASES[case]


def _assert_fold_is_exact(spark, events, base: T.StructType) -> None:
    """events: op, source, lsn, after_json — the columns _epoch_agg
    groups on, with the after-image parsed as the engine parses it."""
    latest = events.select(
        "op", "source", "lsn", F.parse_json("after_json").alias("_av")
    )
    ddl = latest.agg(F.expr("schema_of_variant_agg(_av)")).collect()[0][0]
    folded = engine._epoch_agg(latest)["schema"]
    assert folded == engine._variant_type(ddl)
    got = engine._payload_schema(folded, base)
    want = engine._payload_schema(engine._variant_type(ddl), base)
    assert [f.name for f in got.fields] == [f.name for f in want.fields]
    assert got == want


def test_schema_fold_exact_on_evolution_log(spark, log_dir, tmp_path):
    base = engine._payload_base(
        engine.ensure_table(
            spark, EngineConfig(log_dir=log_dir, table_dir=str(tmp_path / "t"))
        )
    )
    log = spark.read.parquet(log_dir)
    n = SPEC.n_events
    # the whole log (v1..v4) and slices across each evolution cutover
    for lo, hi in [(0, n), (0, int(n * 0.6)), (int(n * 0.5), int(n * 0.7)),
                   (int(n * 0.7), int(n * 0.9)), (int(n * 0.8), n)]:
        _assert_fold_is_exact(
            spark, log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)), base
        )


def test_schema_fold_exact_when_widening_is_only_in_updates(spark):
    """A numeric widening seen only in 'u' events (its own group) must
    fold to the type the global inference gives, field order included:
    BIGINT in 'c' + DECIMAL in 'u' → DECIMAL(21,1); adding a DOUBLE in
    another stream's 'u' → DOUBLE. 'a_new' sorts before the base
    fields and only one group has it."""
    base = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("repo", "path", "commit",
                                                     "lang", "content")]
    )
    rows = [
        ("r", "db", "t1", 0, '{"content":"z","size_bytes":5,"lang":"go"}'),
        ("c", "db", "t1", 1, '{"content":"x","size_bytes":10,"lang":"py"}'),
        ("c", "db", "t2", 2, '{"content":"y","size_bytes":20}'),
        ("u", "db", "t1", 3, '{"content":"x2","size_bytes":2.5,"lang":"py"}'),
        ("d", "db", "t1", 4, None),
    ]
    wide = rows + [("u", "db", "t2", 5, '{"a_new":1,"size_bytes":1e300}')]
    for data in (rows, wide):
        events = spark.createDataFrame(
            data, "op string, db string, tbl string, lsn long, after_json string"
        ).select(
            "op", F.struct(F.col("db"), F.col("tbl").alias("table")).alias("source"),
            "lsn", "after_json",
        )
        _assert_fold_is_exact(spark, events, base)


# --- commits that are not epochs ---------------------------------------------


def test_non_epoch_commits_record_their_own_summary(spark, log_dir, tmp_path):
    # merge-on-read epochs append a file set per touched bucket each, so
    # the buckets both epochs touch are fragmented and compaction commits
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=1_000,
        max_batches=2,
        merge_mode="mor",
    )
    out = run(spark, cfg)
    assert [s["summary"]["epoch_id"] for s in out["epochs"]] == [0, 1]
    t = LakeTable(spark, cfg.table_dir)
    assert t.snapshot(0).summary == {"operation": "create"}

    c = compact(t, min_files_per_bucket=2)
    cur = t.current()
    assert cur.summary["operation"] == "compact"
    assert cur.summary["files_before"] == c["files_before"]
    assert cur.summary["files_after"] == c["files_after"]
    # nothing of the epoch before it leaks in; offsets still inherit
    assert not {"epoch_id", "ops", "streams", "lsn_lo", "lsn_hi"} & set(cur.summary)
    assert cur.properties["last_epoch_id"] == 1

    # expiry commits nothing: the retained rows stay, expired ones go
    expire_snapshots(t, keep_last=2)
    assert [r["operation"] for r in t.history().collect()] == ["epoch", "compact"]


def test_manifest_written_before_summaries_loads_empty():
    snap = Snapshot(
        snapshot_id=3, parent_id=2, epoch_id=1, schema_id=0, schemas=[],
        n_buckets=4, key_cols=["repo"], summary={"operation": "epoch"},
    )
    legacy = json.loads(snap.to_json())
    del legacy["summary"]
    assert Snapshot.from_json(json.dumps(legacy)).summary == {}
