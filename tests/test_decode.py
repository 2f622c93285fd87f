"""Type-conversion matrix + schema inference (mirrors the reference's
MapConverterTest.java:27-86 parameterized matrix, adapted to the one
payload type path: Variant inference over the images, folded and
widened by plans/evolve.py's lattice, the same in the lake table, in
stream_rows and in export)."""

import json
from decimal import Decimal

import pandas as pd
import pytest
from pyspark.sql import types as T

from plugin_debezium_spark.plans.evolve import merge_types, table_type
from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.debezium_json import import_to_log
from plugin_debezium_spark.streaming.engine import EngineConfig, decode_images, run
from plugin_debezium_spark.streaming.export import ExportConfig, export
from plugin_debezium_spark.streaming.realtime import stream_rows


def _mk(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "lsn": range(len(rows)),
                "after_json": rows,
                "before_json": [None] * len(rows),
            }
        ),
        schema="lsn long, after_json string, before_json string",
    )


def _log(spark, tmp_path, field: str, values: list) -> str:
    """One create per value, each on its own key, the value under
    ``field``; LSNs 1..n in two lsn_buckets, so an epoch of n/2 events
    closes between the halves."""
    lines = [
        json.dumps(
            {
                "op": "c",
                "ts_ms": 1700000000000 + i,
                "after": {
                    "repo": "org/a",
                    "path": f"f{i}.py",
                    "commit": "c1",
                    "lang": "py",
                    "content": f"v{i}",
                    field: v,
                },
                "source": {"db": "kestra", "table": "repofiles", "lsn": i + 1},
            }
        )
        for i, v in enumerate(values)
    ]
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return import_to_log(spark, str(p), str(tmp_path / "log"), lsn_buckets=2)


def test_type_matrix_inference(spark):
    df = _mk(
        spark,
        [
            '{"i8":1,"i64":9223372036854775806,"f":1.5,"b":true,'
            '"s":"x","arr":[1,2],"nested":{"a":1,"b":"y"},"nul":null}'
        ],
    )
    decoded, schema = decode_images(df)
    m = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert m["i8"] == "bigint"  # all JSON integrals widen to long
    assert m["i64"] == "bigint"
    assert m["f"] == "decimal(2,1)"  # exact, as the table stores it
    assert m["b"] == "boolean"
    assert m["s"] == "string"
    assert m["arr"] == "array<bigint>"
    assert m["nested"] == "struct<a:bigint,b:string>"
    assert "nul" not in m  # null in every row: nothing to store
    row = decoded.select("after.*").collect()[0]
    assert row["f"] == Decimal("1.5")
    assert row["i64"] == 9223372036854775806


def test_shape_union_across_rows(spark):
    """A single evolved row in the batch must surface its column."""
    df = _mk(spark, ['{"a":1}'] * 50 + ['{"a":2,"size_bytes":3000000000}'])
    _, schema = decode_images(df)
    m = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert m == {"a": "bigint", "size_bytes": "bigint"}


LATTICE = [
    # JSON/Variant types (what schema_of_variant_agg infers)
    (T.NullType(), T.StringType(), T.StringType()),
    (T.LongType(), T.DoubleType(), T.DoubleType()),
    (T.LongType(), T.DecimalType(3, 2), T.DecimalType(22, 2)),
    (T.DecimalType(2, 1), T.DecimalType(3, 2), T.DecimalType(3, 2)),
    (T.DecimalType(38, 0), T.DecimalType(3, 2), T.DoubleType()),
    (T.DecimalType(3, 2), T.DoubleType(), T.DoubleType()),
    (T.LongType(), T.BooleanType(), T.VariantType()),
    (T.StringType(), T.LongType(), T.VariantType()),
    (
        T.ArrayType(T.LongType()),
        T.ArrayType(T.StringType()),
        T.ArrayType(T.VariantType()),
    ),
    # Spark-native columns (merge_batch callers)
    (T.IntegerType(), T.LongType(), T.LongType()),
    (T.ShortType(), T.IntegerType(), T.IntegerType()),
    (T.FloatType(), T.DoubleType(), T.DoubleType()),
    (T.IntegerType(), T.DoubleType(), T.DoubleType()),
    (T.IntegerType(), T.FloatType(), T.DoubleType()),
    (T.IntegerType(), T.DecimalType(3, 2), T.DecimalType(12, 2)),
    (T.DateType(), T.TimestampType(), T.VariantType()),
]


def test_merge_types_widening():
    """The one lattice, both argument orders; VARIANT (incompatible)
    is stored as STRING, never losing data."""
    for a, b, want in LATTICE:
        assert merge_types(a, b) == want, (a, b)
        assert merge_types(b, a) == want, (b, a)
    assert table_type(merge_types(T.LongType(), T.BooleanType())) == T.StringType()
    s1 = T.StructType([T.StructField("a", T.LongType(), True)])
    s2 = T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField("c", T.BooleanType(), True),
            T.StructField("nul", T.NullType(), True),
        ]
    )
    s3 = T.StructType([T.StructField("c", T.LongType(), True)])
    assert table_type(merge_types(merge_types(s1, s2), s3)) == T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField("c", T.StringType(), True),
        ]
    )
    # an image with nothing storable left is VOID as a whole
    empty = T.StructType([T.StructField("x", T.NullType(), True)])
    assert table_type(T.StructType([T.StructField("n", empty, True)])) == T.NullType()
    assert table_type(T.ArrayType(T.NullType())) == T.ArrayType(T.StringType())


def test_arrow_sha_matches_native(spark):
    """The vectorized sha256 kernel hashes UTF-8 bytes exactly as F.sha2
    does, null staying null."""
    from plugin_debezium_spark.functions.hashing import content_sha256

    df = spark.createDataFrame(
        [(None,), ("",), ("héllo wörld ✓ 日本語",), ("plain",)], "c string"
    )
    rows = df.select(
        content_sha256("c", "arrow").alias("a"),
        content_sha256("c", "native").alias("n"),
    ).collect()
    assert rows[0]["a"] is None
    assert all(r["a"] == r["n"] for r in rows)


def test_default_null_handling(spark):
    """Missing fields decode as null (the reference applies schema
    defaults, MapConverter.java:45-47; our sink default is null +
    downstream coalesce)."""
    df = _mk(spark, ['{"a":1}', '{"a":2,"b":"x"}'])
    decoded, _ = decode_images(df)
    out = decoded.select("after.b").collect()
    assert {r[0] for r in out} == {None, "x"}


@pytest.mark.parametrize(
    "field, values, want",
    [
        ("score", [1, 2, 1.5, 2.25], "decimal(22,2)"),
        ("score", [1.5, 2.5, 1.25, 2.25], "decimal(3,2)"),
        ("flag", [1, 2, True, False], "string"),
        ("nul", [None, None, 5, 6], "bigint"),
    ],
)
def test_table_independent_of_epoch_size(spark, tmp_path, field, values, want):
    """The same log replayed in two epochs and in one gives the same
    table schema and rows: the cross-epoch widening is the in-epoch
    fold, and an all-null or mixed-type field is stored the same way
    whichever epoch sees it first."""
    log = _log(spark, tmp_path, field, values)
    tables = []
    for size, n_epochs in ((2, 2), (100, 1)):
        cfg = EngineConfig(
            log_dir=log,
            table_dir=str(tmp_path / f"t{size}"),
            max_events_per_batch=size,
        )
        assert run(spark, cfg)["batches_applied"] == n_epochs
        t = LakeTable(spark, cfg.table_dir)
        rows = sorted(tuple(r) for r in t.read().collect())
        tables.append((t.current().schema(), rows))
    assert tables[0] == tables[1]
    schema, rows = tables[0]
    assert schema[field].dataType.simpleString() == want
    assert len(rows) == len(values)


def test_all_null_field_applies_and_streams(spark, tmp_path):
    """A first epoch whose after-images carry a field null in every row
    applies through run() and is emitted by stream_rows; the field
    appears once a later epoch types it."""
    log = _log(spark, tmp_path, "nul", [None, None, 5, 6])
    cfg = EngineConfig(
        log_dir=log, table_dir=str(tmp_path / "t"), max_events_per_batch=2
    )
    assert run(spark, cfg)["batches_applied"] == 2
    snaps = LakeTable(spark, cfg.table_dir).history().orderBy("snapshot_id")
    assert [r["operation"] for r in snaps.collect()] == ["create", "epoch", "epoch"]
    rows = list(stream_rows(spark, cfg, str(tmp_path / "ck.json")))
    assert [r.asDict().get("nul") for r in rows] == [None, None, 5, 6]
    assert "nul" not in rows[0].asDict()
    assert "nul" in rows[-1].asDict()


def test_export_decodes_every_number(spark, tmp_path):
    """export() types a field from every row of its images, not from
    samples: a non-integer among integers of one key shape comes out
    as the DECIMAL the table stores, never as a silent null."""
    log = _log(spark, tmp_path, "score", [1, 1.5, 2])
    out = export(spark, ExportConfig(log_dir=log, out_dir=str(tmp_path / "out")))
    assert out["size"] == 3
    got = spark.read.parquet(str(tmp_path / "out")).select("score").collect()
    assert {r["score"] for r in got} == {1, Decimal("1.5"), 2}
