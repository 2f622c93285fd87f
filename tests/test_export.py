"""Per-stream shaped export + polling trigger (reference Output/Trigger
contracts: Capture returns {stream: uri, size}; Trigger produces an
execution only when records arrived — mysql/Trigger.java:105-107,
mongodb CaptureTest deleted-flag counts)."""

import pytest

from plugin_debezium_spark.operators.filters import Deleted
from plugin_debezium_spark.operators.routing import SplitTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig
from plugin_debezium_spark.streaming.export import (
    ExportConfig,
    Format,
    export,
)
from plugin_debezium_spark.streaming.trigger import PollingTrigger

SPEC = LogSpec(n_events=1_500, n_keys=300, n_snapshot=300, epoch_size=500)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("exp"))
    return write_log(spark, d, SPEC)


def test_inline_export_with_deleted_flag(spark, log_dir, tmp_path):
    out = export(
        spark,
        ExportConfig(
            log_dir=log_dir,
            out_dir=str(tmp_path / "o"),
            format=Format.INLINE,
            deleted=Deleted.ADD_FIELD,
        ),
    )
    assert out["size"] == SPEC.n_events
    assert set(out["counts"]) == {"kestra.repofiles"}
    df = spark.read.parquet(str(tmp_path / "o"))
    assert "deleted" in df.columns and "repo" in df.columns
    n_deleted = df.filter(df.deleted).count()
    assert 0 < n_deleted < SPEC.n_events  # ~10% deletes in the fixture


def test_drop_policy_removes_deletes(spark, log_dir, tmp_path):
    out = export(
        spark,
        ExportConfig(
            log_dir=log_dir,
            out_dir=str(tmp_path / "o"),
            deleted=Deleted.DROP,
        ),
    )
    assert out["size"] < SPEC.n_events


def test_raw_and_wrap_exports(spark, log_dir, tmp_path):
    raw_out = export(
        spark,
        ExportConfig(
            log_dir=log_dir, out_dir=str(tmp_path / "r"), format=Format.RAW
        ),
    )
    assert raw_out["size"] == SPEC.n_events
    df = spark.read.parquet(str(tmp_path / "r"))
    assert {"key", "value"}.issubset(set(df.columns))
    wrap_out = export(
        spark,
        ExportConfig(
            log_dir=log_dir,
            out_dir=str(tmp_path / "w"),
            format=Format.WRAP,
            metadata=True,
        ),
    )
    dfw = spark.read.parquet(str(tmp_path / "w"))
    assert "record" in dfw.columns and "metadata" in dfw.columns
    assert wrap_out["size"] == SPEC.n_events


def test_empty_export_returns_empty_output(spark, log_dir, tmp_path):
    """Zero new records → empty Output, not a crash (reference: 0
    records → no execution)."""
    out = export(
        spark,
        ExportConfig(
            log_dir=log_dir,
            out_dir=str(tmp_path / "o"),
            last_lsn=10**9,
        ),
    )
    assert out == {"uris": {}, "size": 0, "counts": {}}


def test_raw_export_carries_deleted_flag(spark, log_dir, tmp_path):
    export(
        spark,
        ExportConfig(
            log_dir=log_dir, out_dir=str(tmp_path / "r2"), format=Format.RAW
        ),
    )
    df = spark.read.parquet(str(tmp_path / "r2"))
    assert "deleted" in df.columns
    assert 0 < df.filter(df.deleted).count() < SPEC.n_events


def test_exclude_lists_reachable(spark, log_dir, tmp_path):
    out = export(
        spark,
        ExportConfig(
            log_dir=log_dir,
            out_dir=str(tmp_path / "x"),
            table_exclude="^repofiles$",
        ),
    )
    assert out["size"] == 0


def test_polling_trigger_executions(spark, log_dir, tmp_path):
    cfg = EngineConfig(
        log_dir=log_dir,
        table_dir=str(tmp_path / "t"),
        max_events_per_batch=500,
    )
    trig = PollingTrigger(cfg, interval_s=0.0)
    execs = trig.poll(spark, max_evaluations=2)
    # first evaluation applies everything; second sees no new records
    # → exactly one execution (reference: 0 records → no execution)
    assert len(execs) == 1
    assert execs[0]["batches_applied"] >= 1

def test_raw_passes_message_bodies_structured_drop(spark, tmp_path):
    """Non-envelope messages (op='m'): RAW + ignore_ddl=False delivers
    the open-schema body via message_json (ChangeConsumer.java:205-210,
    Message.java:24-36); RAW default and INLINE/WRAP drop the row."""
    import json

    from plugin_debezium_spark.sources.debezium_json import import_to_log

    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    ddl_doc = {
        "ts_ms": 1700000000001,
        "source": {"db": "kestra", "table": "repofiles", "lsn": 5},
        "ddl": "ALTER TABLE repofiles ADD COLUMN stars BIGINT",
        "databaseName": "kestra",
    }
    lines = [
        json.dumps(
            {
                "op": "c",
                "ts_ms": 1700000000000,
                "after": {**k, "lang": "py", "content": "v1"},
                "source": {"db": "kestra", "table": "repofiles", "lsn": 1},
            }
        ),
        json.dumps(ddl_doc),  # no `op` → non-envelope message
    ]
    p = tmp_path / "msg.jsonl"
    p.write_text("\n".join(lines) + "\n")
    log = import_to_log(spark, str(p), str(tmp_path / "log"), lsn_buckets=2)

    raw_all = export(
        spark,
        ExportConfig(
            log_dir=log,
            out_dir=str(tmp_path / "raw"),
            format=Format.RAW,
            ignore_ddl=False,
        ),
    )
    assert raw_all["size"] == 2
    vals = spark.read.parquet(str(tmp_path / "raw")).select("value.*").collect()
    msg = [r for r in vals if r["op"] == "m"]
    assert len(msg) == 1
    body = json.loads(msg[0]["message_json"])
    assert body["ddl"].startswith("ALTER TABLE")

    raw_default = export(
        spark,
        ExportConfig(
            log_dir=log, out_dir=str(tmp_path / "rawd"), format=Format.RAW
        ),
    )
    assert raw_default["size"] == 1  # ignore_ddl=True drops 'm'
    for fmt, d in ((Format.INLINE, "inl"), (Format.WRAP, "wrp")):
        out = export(
            spark,
            ExportConfig(
                log_dir=log,
                out_dir=str(tmp_path / d),
                format=fmt,
                ignore_ddl=False,  # structured formats drop 'm' regardless
            ),
        )
        assert out["size"] == 1
