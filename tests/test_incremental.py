"""snapshot_mode=INCREMENTAL — DBLog-style chunked bootstrap
interleaved with the stream (streaming/incremental.py).

Correctness claims under test (the DBLog convergence argument):
1. chunked + interleaved bootstrap == ordered full-log LWW replay,
2. a delete that streams in BEFORE its key's chunk is never
   resurrected (tombstone retention while chunks are pending),
3. crash/stop mid-bootstrap resumes at the committed chunk cursor,
4. chunk rows never count toward maxRecords (op='r' parity,
   AbstractDebeziumTask.java:618-621).
"""

import pytest
from pyspark.sql import functions as F

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from plugin_debezium_spark.streaming.incremental import CHUNK_PROP, plan_chunks
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=4_000, n_keys=600, n_snapshot=400, epoch_size=1_000)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ilog"))
    write_log(spark, d, SPEC)
    return d


@pytest.fixture(scope="module")
def dump(spark, log_dir, tmp_path_factory):
    """Source-state dump at S = 40% of the log: LWW over events ≤ S,
    winner's position kept as src_lsn, several files so footer
    planning yields real multi-chunk interleave."""
    d = str(tmp_path_factory.mktemp("idump"))
    log = spark.read.parquet(log_dir)
    s_pos = int(log.agg(F.max("lsn")).collect()[0][0] * 0.4)
    pre = log.filter((F.col("lsn") <= s_pos) & F.col("op").isin("c", "u", "d", "r"))
    w = pre.groupBy(
        F.col("key.repo").alias("repo"),
        F.col("key.path").alias("path"),
        F.col("key.commit").alias("commit"),
    ).agg(F.max_by(F.struct("op", "after_json", "lsn"), F.col("lsn")).alias("w"))
    state0 = (
        w.filter(F.col("w.op") != "d")
        .select(
            "repo",
            "path",
            "commit",
            F.parse_json(F.col("w.after_json")).alias("_av"),
            F.col("w.lsn").alias("src_lsn"),
        )
        .select(
            "repo",
            "path",
            "commit",
            F.expr("cast(variant_get(_av, '$.lang') as string)").alias("lang"),
            F.expr("cast(variant_get(_av, '$.content') as string)").alias(
                "content"
            ),
            "src_lsn",
        )
    )
    state0.repartition(5, "repo", "path", "commit").write.mode(
        "overwrite"
    ).parquet(d)
    return d, s_pos


def _cfg(log_dir, dump, table_dir, **kw):
    src, s_pos = dump
    n_src = sum(c["n"] for c in plan_chunks(src, 10**9))
    base = dict(
        log_dir=log_dir,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="INCREMENTAL",
        incremental_source_dir=src,
        incremental_source_lsn=s_pos,
        incremental_lsn_col="src_lsn",
        incremental_chunk_rows=max(1, n_src // 3 + 1),
    )
    base.update(kw)
    return EngineConfig(**base)


def _final_hashes(spark, table_dir):
    t = LakeTable(spark, table_dir)
    rows = t.read().select("repo", "path", "commit", "content_sha256").collect()
    return {(r[0], r[1], r[2], r[3]) for r in rows}


def test_incremental_matches_golden(spark, log_dir, dump, tmp_path):
    """Convergence: chunked interleaved bootstrap == full-log LWW."""
    table_dir = str(tmp_path / "tbl")
    out = run(spark, _cfg(log_dir, dump, table_dir))
    assert out["chunks_applied"] == out["chunks_total"] >= 2
    assert out["batches_applied"] >= 2  # the interleave actually ran
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden
    # each chunk commits its own summary, never an epoch's
    chunks = [s for s in out["epochs"] if "chunk_id" in s]
    for s in chunks:
        summ = s["summary"]
        assert summ["operation"] == "chunk"
        assert summ["chunk_id"] == s["chunk_id"]
        assert summ["rows"] == s["chunk_rows"] and summ["buckets"] > 0
        assert not {"epoch_id", "ops", "streams"} & set(summ)
    hist = LakeTable(spark, table_dir).history().collect()
    assert [r["operation"] for r in hist].count("chunk") == len(chunks)


def test_incremental_rerun_is_noop(spark, log_dir, dump, tmp_path):
    table_dir = str(tmp_path / "tbl")
    run(spark, _cfg(log_dir, dump, table_dir))
    snap = LakeTable(spark, table_dir).current().snapshot_id
    out2 = run(spark, _cfg(log_dir, dump, table_dir))
    assert out2["batches_applied"] == 0
    # chunk merges are idempotence-guarded by the committed cursor
    assert all(
        s.get("skipped") for s in out2["epochs"] if "chunk_id" in s
    )
    assert LakeTable(spark, table_dir).current().snapshot_id == snap


def test_delete_before_chunk_not_resurrected(spark, tmp_path):
    """A key deleted by the stream BEFORE its chunk applies must stay
    deleted (DBLog in-window dedupe; here: tombstone retention).
    Hand-built fixture pins the order: chunk0(k1) → epoch(delete k2)
    → chunk1(k2)."""
    d = tmp_path
    src = str(d / "src")
    rows = [
        ("part-0", ("org0", "fA", "c1", "py", "body-a", 10)),
        ("part-1", ("org0", "fB", "c1", "py", "body-b", 11)),
    ]
    cols = ["repo", "path", "commit", "lang", "content", "src_lsn"]
    for fname, row in rows:
        spark.createDataFrame([row], cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/_stage_{fname}")
    # re-lay the two single-file stages into one dir with lexical names
    import glob
    import os
    import shutil

    os.makedirs(src, exist_ok=True)
    for fname, _ in rows:
        part = glob.glob(f"{src}/_stage_{fname}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/{fname}.parquet")
        shutil.rmtree(f"{src}/_stage_{fname}")

    # stream: one delete of k2 after the capture position S=20
    log = str(d / "log")
    env = spark.createDataFrame(
        [(30, 30, "d", ("org0", "fB", "c1"))],
        "lsn long, ts_ms long, op string, "
        "key struct<repo:string,path:string,commit:string>",
    ).select(
        "lsn",
        "ts_ms",
        "op",
        "key",
        F.lit(None).cast("string").alias("before_json"),
        F.lit(None).cast("string").alias("after_json"),
        F.struct(
            F.lit("db").alias("db"),
            F.lit("t").alias("table"),
            F.lit("false").alias("snapshot"),
            F.lit("x").alias("connector"),
        ).alias("source"),
        F.lit(0).cast("long").alias("epoch_hint"),
        F.lit(0).cast("long").alias("lsn_bucket"),
    )
    env.write.mode("overwrite").partitionBy("lsn_bucket").parquet(log)

    table_dir = str(d / "tbl")
    cfg = EngineConfig(
        log_dir=log,
        table_dir=table_dir,
        max_events_per_batch=10,
        snapshot_mode="INCREMENTAL",
        incremental_source_dir=src,
        incremental_source_lsn=20,
        incremental_lsn_col="src_lsn",
        incremental_chunk_rows=1,  # one file per chunk
    )
    out = run(spark, cfg)
    assert out["chunks_applied"] == 2 and out["batches_applied"] == 1
    final = {
        (r[0], r[1]) for r in LakeTable(spark, table_dir).read().select(
            "repo", "path"
        ).collect()
    }
    assert final == {("org0", "fA")}  # k2 deleted, never resurrected


def test_stop_and_resume_mid_bootstrap(spark, log_dir, dump, tmp_path):
    """max_records stops the run with chunks still pending; the rerun
    resumes at the committed chunk cursor and converges to golden."""
    table_dir = str(tmp_path / "tbl")
    cached_before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    out1 = run(spark, _cfg(log_dir, dump, table_dir, max_records=1))
    assert out1["stop_reason"] == "max_records"
    assert out1["chunks_applied"] < out1["chunks_total"]
    # the stop is taken at the chunk step ahead of an epoch whose
    # winners were already prefetched: they are released, not cached
    cached_after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert cached_after <= cached_before
    done1 = int(
        LakeTable(spark, table_dir).current().properties.get(CHUNK_PROP, -1)
    )
    out2 = run(spark, _cfg(log_dir, dump, table_dir))
    applied2 = [
        s["chunk_id"]
        for s in out2["epochs"]
        if "chunk_id" in s and not s.get("skipped")
    ]
    assert applied2 and min(applied2) == done1 + 1
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_chunk_rows_exempt_from_max_records(spark, log_dir, dump, tmp_path):
    """records counts CHANGE events only — bootstrapping the whole
    dump adds nothing to the counter."""
    table_dir = str(tmp_path / "tbl")
    out = run(spark, _cfg(log_dir, dump, table_dir))
    n_stream = sum(
        s.get("n_stream", 0) for s in out["epochs"] if "chunk_id" not in s
    )
    assert out["records"] == n_stream > 0


def test_plan_chunks_grouping(spark, tmp_path, dump):
    src, _ = dump
    chunks = plan_chunks(src, 1)  # one file per chunk
    assert all(len(c["files"]) == 1 for c in chunks)
    total = sum(c["n"] for c in chunks)
    one = plan_chunks(src, 10**9)
    assert len(one) == 1 and one[0]["n"] == total
    # deterministic lexical order = a valid resume cursor
    assert [c["files"] for c in chunks] == [
        c["files"] for c in plan_chunks(src, 1)
    ]


def test_incremental_chunks_apply_column_transforms(
    spark, log_dir, dump, tmp_path
):
    """Capture-side masking covers the bootstrap chunks too: the
    config's contract is "masked values never reach the lake" on
    EVERY ingest path, and chunk rows ARE snapshot rows."""
    cfg = _cfg(
        log_dir,
        dump,
        str(tmp_path / "tbl"),
        column_truncate={"content": 6},
    )
    run(spark, cfg)
    t = LakeTable(spark, cfg.table_dir)
    over = t.read().filter(F.length("content") > 6).count()
    assert over == 0  # no plaintext beyond the truncation anywhere
    import hashlib

    row = t.read().filter(F.col("content").isNotNull()).first()
    assert (
        row["content_sha256"]
        == hashlib.sha256(row["content"].encode()).hexdigest()
    )
