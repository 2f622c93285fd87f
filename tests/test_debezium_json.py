"""Debezium JSON-envelope ingestion: a topic dump in Debezium's wire
shape (schema+payload wrapped, postgres source.lsn ordering) replays
through the engine to the same final state as the golden applier."""

import json

import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.debezium_json import (
    envelopes_from_value_json,
    import_to_log,
)
from plugin_debezium_spark.streaming.engine import EngineConfig, run


def _value(op, lsn, key, content=None, wrapped=True, snapshot=False):
    image = None
    if content is not None:
        image = {**key, "lang": "python", "content": content}
    doc = {
        "op": op,
        "ts_ms": 1700000000000 + lsn,
        "before": image if op == "d" else None,
        "after": None if op == "d" else image,
        "source": {
            "version": "3.3.1.Final",
            "connector": "postgresql",
            "db": "kestra",
            "table": "repofiles",
            "snapshot": "true" if snapshot else "false",
            "lsn": lsn,
        },
    }
    if wrapped:
        return json.dumps({"schema": {"type": "struct"}, "payload": doc})
    return json.dumps(doc)


@pytest.fixture(scope="module")
def dump(tmp_path_factory):
    d = tmp_path_factory.mktemp("dbz")
    k1 = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    k2 = {"repo": "org/a", "path": "y.py", "commit": "c2"}
    k3 = {"repo": "org/b", "path": "z.py", "commit": "c3"}
    lines = [
        _value("r", 1, k1, "one-v1", snapshot=True),
        _value("r", 2, k2, "two-v1", snapshot=True, wrapped=False),
        _value("c", 10, k3, "three-v1"),
        _value("u", 11, k1, "one-v2"),
        _value("d", 12, k2, "two-v1"),
        _value("u", 13, k1, "one-v3", wrapped=False),
    ]
    p = d / "topic.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_envelope_parsing(spark, dump):
    env = envelopes_from_value_json(
        spark.read.text(dump).withColumnRenamed("value", "_raw"), "_raw"
    )
    rows = {r["lsn"]: r for r in env.collect()}
    assert len(rows) == 6
    assert rows[1]["op"] == "r" and rows[1]["source"]["snapshot"] == "true"
    assert rows[12]["op"] == "d" and rows[12]["after_json"] is None
    assert json.loads(rows[12]["before_json"])["content"] == "two-v1"
    assert rows[13]["key"]["repo"] == "org/a"


def test_duplicate_source_lsns_disambiguated(spark, tmp_path):
    """Debezium positions can collide (tx-shared LSN / ts_ms fallback);
    import must mint unique LSNs preserving (lsn, ts_ms) order so the
    engine's unique-lsn contract holds."""
    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    lines = [
        _value("c", 100, k, "v1"),
        _value("u", 100, k, "v2"),  # same source lsn, later ts_ms
        _value("u", 50, k, "v0"),  # earlier position
    ]
    # force distinct ts_ms within the collision by re-encoding
    docs = [json.loads(ln)["payload"] for ln in lines]
    docs[0]["ts_ms"] = 1000
    docs[1]["ts_ms"] = 2000
    docs[2]["ts_ms"] = 500
    p = tmp_path / "dup.jsonl"
    p.write_text("\n".join(json.dumps({"payload": d}) for d in docs) + "\n")
    log = import_to_log(spark, str(p), str(tmp_path / "log"), lsn_buckets=2)
    env = spark.read.parquet(log)
    lsns = [r["lsn"] for r in env.collect()]
    assert len(lsns) == len(set(lsns))  # unique
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t")
    )
    run(spark, cfg)
    rows = LakeTable(spark, cfg.table_dir).read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v2"  # later ts wins


def test_debezium_dump_replays_to_final_state(spark, dump, tmp_path):
    log = import_to_log(spark, dump, str(tmp_path / "log"), lsn_buckets=4)
    cfg = EngineConfig(
        log_dir=log,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=3,
    )
    out = run(spark, cfg)
    assert out["batches_applied"] >= 2
    t = LakeTable(spark, cfg.table_dir)
    got = {
        (r["repo"], r["path"]): r["content"] for r in t.read().collect()
    }
    # k1 ends at one-v3 (lsn 13), k2 deleted, k3 at three-v1
    assert got == {
        ("org/a", "x.py"): "one-v3",
        ("org/b", "z.py"): "three-v1",
    }

def test_combined_wire_key_docs_tombstones_and_key_only_deletes(
    spark, tmp_path
):
    """wire='combined': record key docs drive the key columns (PK-only
    key docs with key-only deletes round-trip — the images may be null
    on both sides); Kafka tombstones (null value) are dropped like the
    reference's non-RAW paths (ChangeConsumer.java:196-210)."""
    from plugin_debezium_spark.sources.debezium_json import from_json_lines

    k1 = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    lines = [
        json.dumps(
            {"key": {"payload": k1}, "value": json.loads(_value("c", 1, k1, "v1"))}
        ),
        # key-only delete: both images null, key doc carries the PK
        json.dumps(
            {
                "key": k1,
                "value": {
                    "op": "d",
                    "ts_ms": 1700000000002,
                    "before": None,
                    "after": None,
                    "source": {"db": "kestra", "table": "repofiles", "lsn": 2},
                },
            }
        ),
        # Kafka tombstone: null value doc
        json.dumps({"key": k1, "value": None}),
    ]
    p = tmp_path / "combined.jsonl"
    p.write_text("\n".join(lines) + "\n")
    env = from_json_lines(spark, str(p), wire="combined")
    rows = {r["lsn"]: r for r in env.collect()}
    assert set(rows) == {1, 2}  # tombstone dropped
    d = rows[2]
    assert d["op"] == "d"
    assert d["key"]["repo"] == "org/a" and d["key"]["commit"] == "c1"
    assert d["before_json"] is None and d["after_json"] is None


def _mysql_value(op, file, pos, ts_ms, key, content=None):
    """MySQL-shaped envelope: position = (binlog file, pos), no lsn."""
    image = None
    if content is not None:
        image = {**key, "lang": "python", "content": content}
    return json.dumps(
        {
            "op": op,
            "ts_ms": ts_ms,
            "before": image if op == "d" else None,
            "after": None if op == "d" else image,
            "source": {
                "connector": "mysql",
                "db": "kestra",
                "table": "repofiles",
                "snapshot": "false",
                "file": file,
                "pos": pos,
            },
        }
    )


def test_mysql_binlog_rotation_preserves_total_order(spark, tmp_path):
    """pos resets at every binlog file rotation; the import must order
    by (file sequence, pos) — Debezium keeps file+pos together in its
    offset map (AbstractDebeziumTask.java:382-384,640-670). Ordering by
    pos alone would pick v1 (pos 900) over v3 (pos 500 in a LATER file)
    as the LWW winner."""
    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    # identical ts_ms everywhere: the ts_ms tie-break must NOT be what
    # rescues the ordering
    ts = 1700000000000
    rotated = [
        _mysql_value("c", "mysql-bin.000001", 400, ts, k, "v1"),
        _mysql_value("u", "mysql-bin.000001", 900, ts, k, "v2"),
        _mysql_value("u", "mysql-bin.000002", 4, ts, k, "v3"),  # pos reset
        _mysql_value("u", "mysql-bin.000002", 500, ts, k, "v4"),
    ]
    single = [  # same edits, one file, strictly increasing pos
        _mysql_value("c", "mysql-bin.000001", 400, ts, k, "v1"),
        _mysql_value("u", "mysql-bin.000001", 900, ts, k, "v2"),
        _mysql_value("u", "mysql-bin.000001", 1000, ts, k, "v3"),
        _mysql_value("u", "mysql-bin.000001", 1500, ts, k, "v4"),
    ]
    finals = {}
    for name, lines in (("rotated", rotated), ("single", single)):
        p = tmp_path / f"{name}.jsonl"
        p.write_text("\n".join(lines) + "\n")
        log = import_to_log(
            spark, str(p), str(tmp_path / f"log_{name}"), lsn_buckets=2
        )
        cfg = EngineConfig(
            log_dir=log,
            table_dir=str(tmp_path / f"t_{name}"),
        )
        run(spark, cfg)
        finals[name] = {
            (r["repo"], r["path"], r["commit"]): r["content"]
            for r in LakeTable(spark, cfg.table_dir).read().collect()
        }
    assert finals["rotated"] == finals["single"]
    assert finals["rotated"][("org/a", "x.py", "c1")] == "v4"


def test_binlog_pos_overflow_raises(spark, tmp_path):
    """A pos at or past 2^31 would bleed into the next file's range —
    the composite must fail loudly, not silently misorder."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    p = tmp_path / "hugepos.jsonl"
    p.write_text(
        _mysql_value("c", "mysql-bin.000001", 1 << 31, 1700, k, "v1") + "\n"
    )
    with pytest.raises(Exception, match="binlog pos exceeds"):
        import_to_log(spark, str(p), str(tmp_path / "log"))


def test_opaque_resume_tokens_order_same_ms_bursts(spark, tmp_path):
    """Mongo-shaped dump: no numeric position at all, only an opaque
    resume token + ts_ms. All events share one millisecond — the
    import must order the burst by the token (lexical = Mongo stream
    order), not arbitrarily (reference offsets are an opaque byte map,
    AbstractDebeziumTask.java:640-670)."""
    k = {"repo": "org/m", "path": "doc.py", "commit": "c9"}
    ts = 1700000000000
    # equal-length hex tokens; lexical order == stream order
    tokens_and_versions = [
        ("82649A010000000B2B", "v1"),
        ("82649A010000000C2B", "v2"),
        ("82649A010000000D2B", "v3"),
    ]
    lines = []
    # write in SHUFFLED file order: token must rescue the ordering
    for tok, ver in [
        tokens_and_versions[2],
        tokens_and_versions[0],
        tokens_and_versions[1],
    ]:
        lines.append(
            json.dumps(
                {
                    "op": "u" if ver != "v1" else "c",
                    "ts_ms": ts,
                    "before": None,
                    "after": {**k, "lang": "python", "content": ver},
                    "source": {
                        "connector": "mongodb",
                        "db": "kestra",
                        "collection": "repofiles",
                        "snapshot": "false",
                        "resume_token": tok,
                    },
                }
            )
        )
    p = tmp_path / "mongo.jsonl"
    p.write_text("\n".join(lines) + "\n")
    log = import_to_log(
        spark,
        str(p),
        str(tmp_path / "log"),
        lsn_buckets=2,
        order_token_field="resume_token",
    )
    env = spark.read.parquet(log)
    got = {
        json.loads(r["after_json"])["content"]: r["lsn"]
        for r in env.collect()
    }
    assert len(set(got.values())) == 3  # unique lsns minted
    assert got["v1"] < got["v2"] < got["v3"]  # source order round-trips
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t")
    )
    run(spark, cfg)
    rows = LakeTable(spark, cfg.table_dir).read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v3"


def test_import_guard_rejects_oversized_lsn(spark, tmp_path):
    """lsn*65536 would wrap 64-bit for positions >= 2^47 — the import
    must fail loudly instead of corrupting the total order."""
    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}
    big = 1 << 48
    doc = json.loads(_value("c", 1, k, "v1", wrapped=False))
    doc["source"]["lsn"] = big
    p = tmp_path / "big.jsonl"
    p.write_text(json.dumps(doc) + "\n")
    with pytest.raises(ValueError, match="2\\^47"):
        import_to_log(spark, str(p), str(tmp_path / "log"))


def test_string_encoded_positions_survive(spark, tmp_path):
    """Debezium Oracle ships source.scn as a JSON STRING — a typed
    long field in the parse shell would silently null it and degrade
    ordering to the ts_ms fallback. String-encoded positions must
    drive the lsn exactly like numeric ones."""
    k = {"repo": "org/o", "path": "a.py", "commit": "c1"}
    ts = 1700000000000  # constant: ts_ms must NOT rescue the order
    lines = []
    for scn, ver in (("99", "v-old"), ("1500", "v-new")):
        lines.append(
            json.dumps(
                {
                    "op": "u" if ver == "v-new" else "c",
                    "ts_ms": ts,
                    "after": {**k, "lang": "sql", "content": ver},
                    "source": {
                        "connector": "oracle",
                        "db": "kestra",
                        "table": "repofiles",
                        "snapshot": False,  # bare boolean, not "false"
                        "scn": scn,  # STRING-encoded position
                    },
                }
            )
        )
    # write v-new first: file order must not rescue it either
    p = tmp_path / "oracle.jsonl"
    p.write_text(lines[1] + "\n" + lines[0] + "\n")
    env = envelopes_from_value_json(
        spark.read.text(str(p)).withColumnRenamed("value", "_raw"), "_raw"
    )
    rows = {r["lsn"]: r for r in env.collect()}
    assert set(rows) == {99, 1500}  # scn drove the lsn, not ts_ms
    assert rows[99]["source"]["snapshot"] == "false"
    log = import_to_log(spark, str(p), str(tmp_path / "log"), lsn_buckets=2)
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t")
    )
    run(spark, cfg)
    rows = LakeTable(spark, cfg.table_dir).read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "v-new"


def test_import_empty_dump_raises_clearly(spark, tmp_path):
    p = tmp_path / "empty.jsonl"
    p.write_text("\n")
    with pytest.raises(ValueError, match="no envelope events"):
        import_to_log(spark, str(p), str(tmp_path / "log"))


def test_multi_server_provenance_round_trips(spark, tmp_path):
    """Round-4 provenance fields (Message.java:40-67): the logical
    server name (`source.name`), connector `version`, opaque
    `sequence`, and snapshot `row` counter survive the wire adapter
    verbatim — the field multi-server deployments key on."""
    k = {"repo": "org/a", "path": "x.py", "commit": "c1"}

    def _line(lsn, name, seq=None, row=None):
        doc = json.loads(_value("c", lsn, k, f"v{lsn}"))
        src = doc["payload"]["source"]
        src["name"] = name
        if seq is not None:
            src["sequence"] = seq
        if row is not None:
            src["row"] = row
        return json.dumps(doc)

    p = tmp_path / "multi.jsonl"
    p.write_text(
        "\n".join(
            [
                _line(1, "pg-east", seq='["100","101"]', row=7),
                _line(2, "pg-west"),
                _line(3, None),  # name absent → null, not a crash
            ]
        )
        + "\n"
    )
    env = envelopes_from_value_json(
        spark.read.text(str(p)).withColumnRenamed("value", "_raw"), "_raw"
    )
    rows = {r["lsn"]: r["source"] for r in env.collect()}
    assert rows[1]["name"] == "pg-east"
    assert rows[1]["sequence"] == '["100","101"]'
    assert rows[1]["row"] == 7
    assert rows[1]["version"] == "3.3.1.Final"
    assert rows[2]["name"] == "pg-west" and rows[2]["sequence"] is None
    assert rows[3]["name"] is None


def test_mongo_string_encoded_images_replay_like_objects(spark, tmp_path):
    """MongoDB's Debezium connector ships before/after as JSON
    *strings*, not objects — the reference re-parses them
    (CustomParameterDeserializer.java:14-20). A Mongo-shaped dump
    (string images, `collection` instead of `table`, opaque resume
    token) must import and replay to the SAME final state as the
    object-image form: keys extracted, images materialized, deletes
    honored."""
    k1 = {"repo": "org/m", "path": "a.py", "commit": "c1"}
    k2 = {"repo": "org/m", "path": "b.py", "commit": "c2"}
    ts = 1700000000000
    events = [
        ("c", "82649A010000000A2B", k1, "v1"),
        ("c", "82649A010000000B2B", k2, "w1"),
        ("u", "82649A010000000C2B", k1, "v2"),
        ("d", "82649A010000000D2B", k2, "w1"),
    ]

    def _dump(path, string_images):
        lines = []
        for op, tok, k, content in events:
            image = {**k, "lang": "python", "content": content}
            if string_images:
                image = json.dumps(image)  # Mongo: image is a STRING
            lines.append(
                json.dumps(
                    {
                        "op": op,
                        "ts_ms": ts,
                        "before": image if op == "d" else None,
                        "after": None if op == "d" else image,
                        "source": {
                            "connector": "mongodb",
                            "db": "kestra",
                            "collection": "repofiles",
                            "snapshot": "false",
                            "resume_token": tok,
                        },
                    }
                )
            )
        path.write_text("\n".join(lines) + "\n")
        return str(path)

    finals = []
    for variant, string_images in (("str", True), ("obj", False)):
        p = _dump(tmp_path / f"mongo_{variant}.jsonl", string_images)
        log = import_to_log(
            spark,
            p,
            str(tmp_path / f"log_{variant}"),
            lsn_buckets=2,
            order_token_field="resume_token",
        )
        env = spark.read.parquet(log)
        # keys extracted from string images, source.table <- collection
        keys = {
            (r["key"]["repo"], r["key"]["path"]) for r in env.collect()
        }
        assert keys == {("org/m", "a.py"), ("org/m", "b.py")}
        assert {r["source"]["table"] for r in env.collect()} == {
            "repofiles"
        }
        # after_json is the materialized DOCUMENT (not a quoted string)
        a = {
            json.loads(r["after_json"])["content"]
            for r in env.collect()
            if r["after_json"] is not None
        }
        assert a == {"v1", "w1", "v2"}
        cfg = EngineConfig(
            log_dir=log,
            table_dir=str(tmp_path / f"t_{variant}"),
        )
        run(spark, cfg)
        finals.append(
            sorted(
                (r["repo"], r["path"], r["commit"], r["content"])
                for r in LakeTable(spark, cfg.table_dir).read().collect()
            )
        )
    assert finals[0] == finals[1]
    assert finals[0] == [("org/m", "a.py", "c1", "v2")]
