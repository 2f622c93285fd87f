"""End-to-end replay correctness (mirrors the reference's e2e capture
tests: seed → capture → assert counts/values → re-run returns 0 —
mysql/CaptureTest.java:56-100, AtomicStateTest.java:109-134)."""

import os

import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run
from tests.golden import golden_key_hashes, read_log_pandas

SPEC = LogSpec(n_events=4_000, n_keys=600, n_snapshot=400, epoch_size=1_000)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("log"))
    write_log(spark, d, SPEC)
    return d


def _final_hashes(spark, table_dir):
    t = LakeTable(spark, table_dir)
    rows = t.read().select("repo", "path", "commit", "content_sha256").collect()
    return {(r[0], r[1], r[2], r[3]) for r in rows}


def test_replay_matches_golden(spark, log_dir, tmp_path):
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
    )
    out = run(spark, cfg)
    assert out["batches_applied"] >= 3
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_rerun_is_noop(spark, log_dir, tmp_path):
    """Exactly-once observable: re-running applied offsets yields no
    new batches and identical state (reference CaptureTest.java:97-99)."""
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
    )
    run(spark, cfg)
    snap_before = LakeTable(spark, table_dir).current().snapshot_id
    out2 = run(spark, cfg)
    assert out2["batches_applied"] == 0
    assert LakeTable(spark, table_dir).current().snapshot_id == snap_before


def test_resume_mid_stream(spark, log_dir, tmp_path):
    """Kill after 2 batches, restart from checkpoint → same final
    state as an uninterrupted run."""
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
    )
    first = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            max_batches=2,
        ),
    )
    assert first["batches_applied"] == 2
    run(spark, cfg)  # resume to end
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_schema_evolution_added_and_widened(spark, log_dir, tmp_path):
    """size_bytes appears mid-log (v2) and exceeds int32 later (v3);
    lang enum grows (v4) — final schema has size_bytes:long and rust
    rows exist."""
    table_dir = str(tmp_path / "tbl")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
        ),
    )
    t = LakeTable(spark, table_dir)
    schema = {f.name: f.dataType.simpleString() for f in t.current().schema().fields}
    assert schema.get("size_bytes") == "bigint"
    df = t.read()
    assert df.filter(df.lang == "rust").count() > 0
    assert df.filter(df.size_bytes > 2_147_483_647).count() > 0


def test_salted_dedupe_matches(spark, log_dir, tmp_path):
    table_dir = str(tmp_path / "tbl")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            n_salts=8,
        ),
    )
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_sharded_appliers_union_equals_full(spark, log_dir, tmp_path):
    """Horizontal sharding (Kafka-partition-style): N appliers with
    disjoint key shards; the union of their table shards equals the
    unsharded final state."""
    shards = 3
    union = set()
    for i in range(shards):
        td = str(tmp_path / f"shard{i}")
        run(
            spark,
            EngineConfig(
                log_dir=log_dir,
                table_dir=td,
                max_events_per_batch=2_000,
                shard=(shards, i),
            ),
        )
        part = _final_hashes(spark, td)
        assert not (union & part)  # shards are key-disjoint
        union |= part
    assert union == golden_key_hashes(read_log_pandas(log_dir))


def _cached_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_max_duration_stops_cleanly(spark, log_dir, tmp_path):
    """L4 stop condition: an exhausted time budget applies nothing,
    leaves no cached leftovers, and a later run completes the replay."""
    table_dir = str(tmp_path / "tbl")
    # the session is shared across the test module: assert run() adds
    # no cached leftovers, not that the whole session is cache-free
    # (earlier tests' localCheckpoints are released asynchronously)
    cached_before = _cached_rdds(spark)
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            max_duration_s=0.0,
        ),
    )
    assert out["batches_applied"] == 0
    assert _cached_rdds(spark) <= cached_before
    run(
        spark,
        EngineConfig(
            log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
        ),
    )
    assert _final_hashes(spark, table_dir) == golden_key_hashes(
        read_log_pandas(log_dir)
    )


def test_metrics_lineage_written(spark, log_dir, tmp_path):
    """Lineage lives in the snapshot summaries: history() holds one row
    per epoch with its per-op counts and LSN range; no side tables."""
    table_dir = str(tmp_path / "tbl")
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
        ),
    )
    hist = [
        r
        for r in LakeTable(spark, table_dir).history().collect()
        if r["operation"] == "epoch"
    ]
    assert [r["epoch_id"] for r in hist] == list(range(out["batches_applied"]))
    first = hist[0]["ops"]["r"]
    assert first["n_events"] > 0 and first["lsn_lo"] <= first["lsn_hi"]
    assert not os.path.exists(os.path.join(table_dir, "metrics"))


# --- TRUNCATE semantics (reference ChangeConsumer.java:262-274) -----------

TRUNC_SPEC = LogSpec(
    n_events=3_000, n_keys=500, n_snapshot=300, epoch_size=1_000,
    truncate_every=700,
)


@pytest.fixture(scope="module")
def trunc_log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("trunc_log"))
    write_log(spark, d, TRUNC_SPEC)
    return d


def test_truncate_matches_golden(spark, trunc_log_dir, tmp_path):
    """Multi-epoch replay of a log with TRUNCATE envelopes equals the
    golden applier (which clears state at each 't')."""
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=trunc_log_dir, table_dir=table_dir,
        max_events_per_batch=1_000,
    )
    out = run(spark, cfg)
    assert out["batches_applied"] == 3
    log_pdf = read_log_pandas(trunc_log_dir)
    assert (log_pdf["op"] == "t").sum() > 0, "fixture must carry truncates"
    assert _final_hashes(spark, table_dir) == golden_key_hashes(log_pdf)
    # every surviving row postdates the last truncate
    t_max = int(log_pdf.loc[log_pdf["op"] == "t", "lsn"].max())
    t = LakeTable(spark, table_dir)
    assert t.read().filter(f"_lsn <= {t_max}").count() == 0


def test_truncate_policy_drop_ignores(spark, trunc_log_dir, tmp_path):
    table_dir = str(tmp_path / "tbl")
    run(
        spark,
        EngineConfig(
            log_dir=trunc_log_dir, table_dir=table_dir,
            max_events_per_batch=1_000, truncate_policy="drop",
        ),
    )
    log_pdf = read_log_pandas(trunc_log_dir)
    no_t = log_pdf[log_pdf["op"] != "t"]
    assert _final_hashes(spark, table_dir) == golden_key_hashes(no_t)


def test_truncate_raises_on_lww_guard(spark, trunc_log_dir, tmp_path):
    """The raising epoch releases its winners, and the loop releases
    the next epoch's prefetch that was in flight when it raised."""
    cached_before = _cached_rdds(spark)
    with pytest.raises(ValueError, match="TRUNCATE"):
        run(
            spark,
            EngineConfig(
                log_dir=trunc_log_dir, table_dir=str(tmp_path / "tbl"),
                max_events_per_batch=1_000, lww_guard=True,
            ),
        )
    assert _cached_rdds(spark) <= cached_before


@pytest.mark.parametrize(
    "field, value",
    [("truncate_policy", "Drop"), ("merge_mode", "MOR"), ("snapshot_mode", "NEVR")],
)
def test_config_refuses_misspelled_modes(field, value):
    """A misspelled mode used to run silently as another one:
    truncate_policy="Drop" committed the keyless TRUNCATE pseudo-rows
    as data, merge_mode="MOR" ran copy-on-write, and
    snapshot_mode="NEVR" ran INITIAL."""
    with pytest.raises(ValueError, match=f"EngineConfig.{field}"):
        EngineConfig(log_dir="x", table_dir="y", **{field: value})


def test_config_upper_cases_snapshot_mode():
    assert EngineConfig("x", "y", snapshot_mode="never").snapshot_mode == "NEVER"
    assert EngineConfig("x", "y", snapshot_mode=None).snapshot_mode == "INITIAL"


# --- stop conditions L4 (AbstractDebeziumTask.java:124-152,610-634) -------


def test_max_records_ignored_during_snapshot(spark, log_dir, tmp_path):
    """maxRecords counts CHANGE events only (:618-621 gates the counter
    on !snapshot): snapshot (op='r') rows neither trip the gate nor
    count toward it — with a 400-event op='r' prefix and ~200-event
    epochs, the run must survive the pure-snapshot epochs and stop only
    once ≥100 stream records have applied."""
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=str(tmp_path / "tbl"),
            max_events_per_batch=200,
            max_records=100,
        ),
    )
    assert out["stop_reason"] == "max_records"
    # did not stop during the snapshot phase (the full log is 5 epochs;
    # pure-snapshot epochs alone would have tripped a naive counter)
    assert out["batches_applied"] >= 2
    # the counter is stream-only: it tripped with >=100 but far fewer
    # than the total events applied (snapshot rows excluded)
    assert 100 <= out["records"] < 400 + 100 + 200


def test_max_snapshot_duration_stops(spark, log_dir, tmp_path):
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=str(tmp_path / "tbl"),
            max_events_per_batch=1_000,
            max_snapshot_duration_s=0.0,
        ),
    )
    assert out["batches_applied"] == 0
    assert out["stop_reason"] == "max_snapshot_duration"


def test_max_wait_tail_follow_picks_up_new_rows(spark, log_dir, tmp_path):
    """maxWait (default-on in the reference, 10s): after draining the
    log the engine keeps polling; rows appended within the window are
    applied; the run ends once the log stays quiet for max_wait_s."""
    import threading
    import time as _time

    from pyspark.sql import functions as F

    table_dir = str(tmp_path / "tbl")
    log2 = str(tmp_path / "log2")
    # private copy of the log so the append can't leak into the shared
    # module fixture
    spark.read.parquet(log_dir).write.partitionBy("lsn_bucket").parquet(log2)

    def _append():
        _time.sleep(1.0)
        extra = (
            spark.range(10_000, 10_020)
            .select(
                F.col("id").alias("lsn"),
                F.col("id").alias("ts_ms"),
                F.lit("c").alias("op"),
                F.struct(
                    F.lit("late/repo").alias("repo"),
                    F.concat(F.lit("f"), F.col("id")).alias("path"),
                    F.lit("c0").alias("commit"),
                ).alias("key"),
                F.lit(None).cast("string").alias("before_json"),
                F.to_json(
                    F.struct(
                        F.lit("late/repo").alias("repo"),
                        F.concat(F.lit("f"), F.col("id")).alias("path"),
                        F.lit("c0").alias("commit"),
                        F.lit("go").alias("lang"),
                        F.lit("late content").alias("content"),
                    )
                ).alias("after_json"),
                F.struct(
                    F.lit("kestra").alias("db"),
                    F.lit("repofiles").alias("table"),
                    F.lit("false").alias("snapshot"),
                    F.lit("x").alias("connector"),
                ).alias("source"),
                F.lit(None).cast(
                    "struct<id:string,total_order:bigint,data_collection_order:bigint>"
                ).alias("transaction"),
                F.lit(None).cast("long").alias("epoch_hint"),
                F.lit(999).cast("long").alias("lsn_bucket"),
            )
        )
        extra.write.mode("append").partitionBy("lsn_bucket").parquet(log2)

    t = threading.Thread(target=_append)
    t.start()
    out = run(
        spark,
        EngineConfig(
            log_dir=log2,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            max_wait_s=4.0,
            poll_interval_s=0.25,
        ),
    )
    t.join()
    assert out["last_lsn"] == 10_019
    late = LakeTable(spark, table_dir).read().filter("repo = 'late/repo'")
    assert late.count() == 20


# --- snapshot modes S2 (mysql/MysqlInterface.java:43-53) -------------------


def test_snapshot_mode_never_skips_reads(spark, log_dir, tmp_path):
    table_dir = str(tmp_path / "tbl")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            snapshot_mode="NEVER",
        ),
    )
    log_pdf = read_log_pandas(log_dir)
    golden = golden_key_hashes(log_pdf[log_pdf["op"] != "r"])
    assert _final_hashes(spark, table_dir) == golden


def test_snapshot_mode_initial_only_stops_after_snapshot(
    spark, log_dir, tmp_path
):
    table_dir = str(tmp_path / "tbl")
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            snapshot_mode="INITIAL_ONLY",
        ),
    )
    log_pdf = read_log_pandas(log_dir)
    snap_only = log_pdf[log_pdf["op"] == "r"]
    assert _final_hashes(spark, table_dir) == golden_key_hashes(snap_only)
    assert out["last_lsn"] == int(snap_only["lsn"].max())
    # a later INITIAL run resumes cleanly into the stream phase
    run(
        spark,
        EngineConfig(
            log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
        ),
    )
    assert _final_hashes(spark, table_dir) == golden_key_hashes(log_pdf)


def _copy_buckets(src: str, dst: str, pred):
    """Stage a log in phases: copy the lsn_bucket= partitions whose
    bucket index satisfies pred (buckets are contiguous lsn ranges, so
    a bucket prefix is an lsn prefix — 'the log as it existed then')."""
    import shutil

    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if not name.startswith("lsn_bucket="):
            continue
        if pred(int(name.split("=")[1])) and not os.path.exists(
            os.path.join(dst, name)
        ):
            shutil.copytree(os.path.join(src, name), os.path.join(dst, name))


def test_snapshot_mode_schema_only_streams_from_start_position(
    spark, log_dir, tmp_path
):
    """Real SCHEMA_ONLY/NO_DATA semantics (MysqlInterface.java:43-53):
    no data snapshot, stream only events arriving AFTER first engine
    start — the positional distinction from NEVER, which replays the
    whole log. First start pins the log's high-water mark as a durable
    offset; events appended later are applied, everything historical
    (snapshot prefix AND old stream events) is not."""
    staged = str(tmp_path / "staged_log")
    split = 40  # buckets 0..39 exist at first start, 40.. arrive later
    _copy_buckets(log_dir, staged, lambda b: b < split)
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=staged,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="SCHEMA_ONLY",
    )
    out = run(spark, cfg)
    log_pdf = read_log_pandas(log_dir)
    hwm = int(log_pdf[log_pdf["lsn_bucket"] < split]["lsn"].max())
    assert out["batches_applied"] == 0
    t = LakeTable(spark, table_dir)
    assert t.read().count() == 0  # schema only, no historical data
    # the hwm is pinned durably at FIRST start, so events landing
    # between runs are streamed, never skipped by a re-derived pin
    assert int(t.current().properties["last_lsn"]) == hwm
    # the pin records its own summary, which no later epoch inherits
    assert t.current().summary == {"operation": "schema_only_pin", "last_lsn": hwm}

    _copy_buckets(log_dir, staged, lambda b: b >= split)
    out2 = run(spark, cfg)
    assert out2["batches_applied"] > 0
    assert out2["epochs"][0]["summary"]["lsn_lo"] == hwm + 1
    tail = log_pdf[(log_pdf["lsn"] > hwm) & (log_pdf["op"] != "r")]
    assert _final_hashes(spark, table_dir) == golden_key_hashes(tail)


def test_schema_only_empty_log_first_start_pins_durably(
    spark, log_dir, tmp_path
):
    """Connector-first deployment: SCHEMA_ONLY starts BEFORE the
    producer wrote anything. The first start must durably record the
    pin even at hwm=-1 (schema_only_pinned marker) — otherwise the
    next run would re-derive the then-current hwm and silently skip
    every event that arrived in the gap (data loss)."""
    staged = str(tmp_path / "staged_log")
    os.makedirs(staged)  # the log exists but is EMPTY at first start
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=staged,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="SCHEMA_ONLY",
    )
    out = run(spark, cfg)
    assert out["batches_applied"] == 0
    props = LakeTable(spark, table_dir).current().properties
    assert props.get("schema_only_pinned") is True
    assert int(props["last_lsn"]) == -1

    _copy_buckets(log_dir, staged, lambda b: True)  # producer catches up
    run(spark, cfg)
    log_pdf = read_log_pandas(log_dir)
    stream = log_pdf[log_pdf["op"] != "r"]  # all post-start, none skipped
    assert _final_hashes(spark, table_dir) == golden_key_hashes(stream)


def test_snapshot_mode_no_data_alias_and_rerun_noop(spark, log_dir, tmp_path):
    """NO_DATA is the reference's newer name for SCHEMA_ONLY; against a
    fully-written log a first run pins hwm = end-of-log (empty table)
    and a re-run is a no-op — and neither warns (the mode stopped
    degenerating to INITIAL in round 6)."""
    import warnings

    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="NO_DATA",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        run(spark, cfg)
    assert not [x for x in w if "degenerates" in str(x.message)]
    t = LakeTable(spark, table_dir)
    assert t.read().count() == 0
    log_pdf = read_log_pandas(log_dir)
    assert int(t.current().properties["last_lsn"]) == int(log_pdf["lsn"].max())
    snap_before = t.current().snapshot_id
    out2 = run(spark, cfg)
    assert out2["batches_applied"] == 0
    assert LakeTable(spark, table_dir).current().snapshot_id == snap_before


def test_snapshot_select_statement_override(spark, log_dir, tmp_path):
    """snapshot.select.statement.overrides analogue: a per-table WHERE
    predicate restricts which op='r' rows the snapshot phase ingests
    (Debezium property, reachable in the reference via the properties
    passthrough AbstractDebeziumTask.java:119,361-368); stream events
    are never filtered. Golden: drop exactly the snapshot rows failing
    the predicate from the log, LWW the rest."""
    import json

    table_dir = str(tmp_path / "tbl")
    pred = "get_json_object(after_json, '$.lang') = 'python'"
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            snapshot_overrides={"kestra.repofiles": pred},
        ),
    )
    pdf = read_log_pandas(log_dir)
    keep = pdf.apply(
        lambda r: r["op"] != "r"
        or json.loads(r["after_json"]).get("lang") == "python",
        axis=1,
    )
    clipped = pdf[keep]
    assert len(clipped) < len(pdf)  # the predicate actually clips
    assert _final_hashes(spark, table_dir) == golden_key_hashes(clipped)
    # a non-matching table's override never touches this log
    t2 = str(tmp_path / "tbl2")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=t2,
            max_events_per_batch=1_000,
            snapshot_overrides={"otherdb.othertable": "1 = 0"},
        ),
    )
    assert _final_hashes(spark, t2) == golden_key_hashes(pdf)


def test_snapshot_mode_recovery_rebuilds_history_and_resumes(
    spark, log_dir, tmp_path
):
    """Real RECOVERY semantics (round-5 verdict #5;
    mysql/MysqlInterface.java:43-53): corrupt the table's schema
    lineage mid-stream, resume with snapshot_mode=RECOVERY — the
    engine rebuilds the history from the data files' parquet footers,
    then streams WITHOUT a data snapshot, converging to the golden
    final state with the fully-evolved schema."""
    import warnings

    from plugin_debezium_spark.plans.evolve import rebuild_schema_history

    table_dir = str(tmp_path / "tbl")
    run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            max_batches=3,
        ),
    )
    t = LakeTable(spark, table_dir)
    healthy = t.current()
    assert len(healthy.schemas) >= 2  # evolution already happened
    # corrupt: flatten the lineage to the first schema (history lost)
    t.commit_metadata(
        schemas=[healthy.schemas[0]],
        schema_id=0,
        files=[{**f, "schema_id": 0} for f in healthy.files],
        expected_parent=healthy.snapshot_id,
    )
    assert "size_bytes" not in t.read().columns  # visibly broken

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = run(
            spark,
            EngineConfig(
                log_dir=log_dir,
                table_dir=table_dir,
                max_events_per_batch=1_000,
                snapshot_mode="RECOVERY",
            ),
        )
    assert not [x for x in w if "degenerates" in str(x.message)]
    assert out["batches_applied"] > 0  # streamed the tail, no snapshot
    cur = LakeTable(spark, table_dir).current()
    assert cur.properties.get("schema_history_recovered") is True
    ops = [r["operation"] for r in LakeTable(spark, table_dir).history().collect()]
    # the rebuild is its own commit between the epochs it resumes from
    assert ops.count("recovery") == 1
    assert ops[ops.index("recovery") + 1:] == ["epoch"] * out["batches_applied"]
    schema = {f.name: f.dataType.simpleString() for f in cur.schema().fields}
    assert schema.get("size_bytes") == "bigint"
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_snapshot_mode_recovery_fresh_table_runs_initial(
    spark, log_dir, tmp_path
):
    """A fresh table has no history OR data to recover — RECOVERY runs
    the snapshot phase like INITIAL (the WHEN_NEEDED precedent)."""
    table_dir = str(tmp_path / "tbl")
    out = run(
        spark,
        EngineConfig(
            log_dir=log_dir,
            table_dir=table_dir,
            max_events_per_batch=1_000,
            snapshot_mode="RECOVERY",
        ),
    )
    assert out["batches_applied"] > 0
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden


def test_snapshot_mode_when_needed_is_state_dependent(
    spark, log_dir, tmp_path
):
    """WHEN_NEEDED's real contract (MysqlInterface.java:43-53):
    snapshot iff no valid offsets exist. Fresh table → full snapshot
    phase (op='r' applied, same as INITIAL); resumed table → stream
    only (no re-applied snapshot, no warning). Round-5 item: replaces
    the warn+INITIAL degeneration."""
    import dataclasses
    import warnings

    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="WHEN_NEEDED",
    )
    log_pdf = read_log_pandas(log_dir)
    # fresh table: snapshots — stop mid-snapshot-capable path not
    # needed; just check the final state includes op='r' keys
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = run(spark, cfg)
    assert not [x for x in w if "degenerates" in str(x.message)]
    assert out["batches_applied"] > 0
    assert _final_hashes(spark, table_dir) == golden_key_hashes(log_pdf)

    # build a second table through the SNAPSHOT ONLY, then resume it
    # with WHEN_NEEDED: offsets exist, so the snapshot phase is
    # skipped — only streamed (non-'r') events past the offset apply
    table2 = str(tmp_path / "tbl2")
    run(
        spark,
        dataclasses.replace(
            cfg, table_dir=table2, snapshot_mode="INITIAL_ONLY"
        ),
    )
    snap_lsn = int(log_pdf[log_pdf["op"] == "r"]["lsn"].max())
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        out2 = run(spark, dataclasses.replace(cfg, table_dir=table2))
    assert not [x for x in w2 if "degenerates" in str(x.message)]
    assert out2["last_lsn"] == int(log_pdf["lsn"].max())
    assert out2["last_lsn"] > snap_lsn
    # no re-snapshot epoch ran on the resumed table
    assert not any(e.get("resnapshot") for e in out2.get("epochs", []))
    assert _final_hashes(spark, table2) == golden_key_hashes(log_pdf)


def test_snapshot_mode_always_resnapshots_without_regression(
    spark, log_dir, tmp_path
):
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=log_dir, table_dir=table_dir, max_events_per_batch=1_000
    )
    run(spark, cfg)
    golden = golden_key_hashes(read_log_pandas(log_dir))
    assert _final_hashes(spark, table_dir) == golden
    import dataclasses

    out = run(spark, dataclasses.replace(cfg, snapshot_mode="ALWAYS"))
    # the re-applied op='r' epoch ran, but LWW keeps streamed state
    assert any(e.get("resnapshot") for e in out["epochs"])
    assert _final_hashes(spark, table_dir) == golden


@pytest.mark.parametrize(
    "kwargs",
    [
        {},  # two-pass dedupe path (raw count from pass 1)
        {"one_pass": True},  # one-pass extra-sum path
        {"one_pass": True, "n_salts": 4},  # salted two-phase
    ],
)
def test_max_records_counts_consumed_events_not_winners(
    spark, tmp_path, monkeypatch, kwargs
):
    """Reference parity (AbstractDebeziumTask.java:617-621): maxRecords
    counts change events CONSUMED. A duplicate-heavy log (1000 events,
    50 keys) must stop after ceil(500/200)=3 epochs of 200 raw events —
    counting LWW winners (≤50/epoch) would never reach the cap."""
    import uuid

    from plugin_debezium_spark.streaming import engine

    kwargs = dict(kwargs)
    if kwargs.pop("one_pass", False):
        monkeypatch.setattr(engine, "TWOPASS_DEDUPE_LIMIT", 0)
    d = tmp_path / uuid.uuid4().hex[:8]
    log = write_log(
        spark,
        str(d / "log"),
        LogSpec(n_events=1_000, n_keys=50, n_snapshot=0, epoch_size=200),
    )
    cfg = EngineConfig(
        log_dir=log,
        table_dir=str(d / "tbl"),
        max_events_per_batch=200,
        max_records=500,
        **kwargs,
    )
    out = run(spark, cfg)
    assert out["stop_reason"] == "max_records"
    assert out["batches_applied"] == 3
    # epochs close on lsn_bucket boundaries → ~208 raw events each;
    # the counter must be the consumed count (3×~208), NOT the winner
    # count (≤50 distinct keys/epoch → ≤150 total, which would never
    # trip the 500 cap)
    assert 500 <= out["records"] <= 700
    assert sum(e["n_stream"] for e in out["epochs"]) == out["records"]
    assert all(e["n_stream"] > e["batch_keys"] for e in out["epochs"])


def test_schema_only_pin_is_compare_and_set(spark, tmp_path, monkeypatch):
    """Two concurrent SCHEMA_ONLY first starts must agree on ONE pin:
    the pin commit passes expected_parent, so a loser whose basis
    snapshot went stale re-reads and ADOPTS the winner's pin instead
    of overwriting it with its own (later, possibly higher) hwm —
    which would silently skip every event in the gap (r6 advice)."""
    from plugin_debezium_spark.sources import log_reader as lr

    staged = str(tmp_path / "staged_log")
    os.makedirs(staged)
    table_dir = str(tmp_path / "tbl")
    cfg = EngineConfig(
        log_dir=staged,
        table_dir=table_dir,
        max_events_per_batch=1_000,
        snapshot_mode="SCHEMA_ONLY",
    )
    real = lr.log_high_water_mark
    fired = {"n": 0}

    def racing(log_dir):
        # between this engine's props read and its pin commit, a
        # concurrent first start wins the race and pins last_lsn=5
        if fired["n"] == 0:
            fired["n"] += 1
            LakeTable(spark, table_dir).commit(
                [],
                set(),
                properties={"last_lsn": 5, "schema_only_pinned": True},
            )
        return real(log_dir)

    monkeypatch.setattr(lr, "log_high_water_mark", racing)
    out = run(spark, cfg)
    assert out["batches_applied"] == 0
    props = LakeTable(spark, table_dir).current().properties
    assert int(props["last_lsn"]) == 5  # the winner's pin survived
