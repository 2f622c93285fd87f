"""Type-conversion matrix + schema inference (mirrors the reference's
MapConverterTest.java:27-86 parameterized matrix, adapted to the JSON
payload lattice of SURVEY.md §1.2)."""

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plugin_debezium_spark.functions.decode import (
    decode_envelope,
    infer_payload_schema,
    merge_types,
)


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


def test_type_matrix_inference(spark):
    df = _mk(
        spark,
        [
            '{"i8":1,"i64":9223372036854775806,"f":1.5,"b":true,'
            '"s":"x","arr":[1,2],"nested":{"a":1,"b":"y"},"nul":null}'
        ],
    )
    schema = infer_payload_schema(df)
    m = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert m["i8"] == "bigint"  # all JSON integrals widen to long
    assert m["i64"] == "bigint"
    assert m["f"] == "double"
    assert m["b"] == "boolean"
    assert m["s"] == "string"
    assert m["arr"] == "array<bigint>"
    assert m["nested"] == "struct<a:bigint,b:string>"


def test_shape_union_across_rows(spark):
    """A single evolved row in the batch must surface its column."""
    df = _mk(spark, ['{"a":1}'] * 50 + ['{"a":2,"size_bytes":3000000000}'])
    schema = infer_payload_schema(df)
    m = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert m == {"a": "bigint", "size_bytes": "bigint"}


def test_merge_types_widening():
    assert merge_types(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert merge_types(T.NullType(), T.StringType()) == T.StringType()
    # incompatible falls back to string, never loses data
    assert merge_types(T.BooleanType(), T.LongType()) == T.StringType()
    s1 = T.StructType([T.StructField("a", T.LongType(), True)])
    s2 = T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    merged = merge_types(s1, s2)
    assert merged == T.StructType(
        [
            T.StructField("a", T.DoubleType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )


def test_arrow_vs_native_decode(spark):
    rows = [
        '{"repo":"r1","path":"p","commit":"c","lang":"go","content":"hi"}',
        None,
        '{"repo":"r2","path":"p2","commit":"c2","lang":"ts","content":null}',
    ]
    df = _mk(spark, rows)
    schema = infer_payload_schema(df)
    a = decode_envelope(df, schema, "native").select("lsn", "after").collect()
    b = decode_envelope(df, schema, "arrow").select("lsn", "after").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


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
    schema = infer_payload_schema(df)
    out = decode_envelope(df, schema, "native").select("after.b").collect()
    assert {r[0] for r in out} == {None, "x"}
