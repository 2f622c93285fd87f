"""Envelope data model (SURVEY.md §1).

Mirrors the reference's change-event model — Envelope{op, ts_ms,
before, after, transaction} + Message.Source{db, table, snapshot,
connector} + Key (reference: plugin-debezium/src/main/java/io/kestra/
plugin/debezium/models/Envelope.java:19-57, models/Message.java:40-67)
— re-expressed as a fixed Spark StructType over the target base table
``(repo, path, commit, lang, content)`` from BASELINE.json input_hint.

The reference carries schema per-record (Kafka Connect); we carry the
payload as a JSON string (the exact shape MongoDB envelopes arrive in,
reference CustomParameterDeserializer.java:14-20) and parse it to a
Variant cast to the inferred payload type — that keeps the log schema
fixed while the *payload* schema can evolve mid-log.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Operation codes — reference Envelope.java:39-46 via
# io.debezium.data.Envelope.Operation.
OP_CREATE = "c"
OP_UPDATE = "u"
OP_DELETE = "d"
OP_READ = "r"  # snapshot read
OP_TRUNCATE = "t"
# Non-envelope message (schema-change/DDL notifications): the
# reference's Message base type with an open payload
# (Message.java:24-36 @JsonAnySetter; delivered only by RAW with
# ignoreDdl=false, ChangeConsumer.java:205-210). Not a data op — the
# body rides in the log's message_json column.
OP_MESSAGE = "m"
# Envelope operations the reference DELIVERS (ChangeConsumer.java:
# 196-199 drops only non-Envelope schema-change messages; TRUNCATE
# envelopes flow through shaping with deleted=true, :262-274).
DATA_OPS = (OP_CREATE, OP_UPDATE, OP_DELETE, OP_READ, OP_TRUNCATE)
# Operations that carry a row key (everything but TRUNCATE — a 't'
# envelope has no before/after image and no key; the merge path gives
# it table-wide delete semantics instead).
KEYED_OPS = (OP_CREATE, OP_UPDATE, OP_DELETE, OP_READ)

# Base table schema v1 (input_hint). Evolution fixtures add
# size_bytes (v2 int, v3 long) — see plans/evolve.py.
BASE_FIELDS_V1 = [
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("content", T.StringType()),
]

KEY_COLS = ("repo", "path", "commit")


def base_schema(extra: list[tuple[str, T.DataType]] | None = None) -> T.StructType:
    fields = [T.StructField(n, t, True) for n, t in BASE_FIELDS_V1]
    for n, t in extra or []:
        fields.append(T.StructField(n, t, True))
    return T.StructType(fields)


def key_schema() -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in KEY_COLS])


# Full provenance of the reference's Message.Source (Message.java:40-67):
# version (connector version), name (the LOGICAL SERVER NAME —
# the field multi-server deployments key on), sequence (opaque
# commit-sequence token, e.g. postgres' JSON array of LSN strings),
# row (snapshot row counter, Integer in the reference). New fields are
# appended nullable + name-matched, so logs written before round 4
# read as null under this schema.
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("snapshot", T.StringType(), True),
        T.StructField("connector", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("version", T.StringType(), True),
        T.StructField("sequence", T.StringType(), True),
        T.StructField("row", T.IntegerType(), True),
    ]
)

# Debezium transaction block (Envelope.java:36-37 carries it on every
# envelope; emitted into metadata by ChangeConsumer.java:295). Null
# when the source runs without transaction metadata.
TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("total_order", T.LongType(), True),
        T.StructField("data_collection_order", T.LongType(), True),
    ]
)


def envelope_log_schema() -> T.StructType:
    """Schema of the persisted change log (one parquet dataset,
    partitioned by lsn_bucket, ordered by lsn).

    CONTRACT: ``lsn`` is UNIQUE per event (it is the total order the
    LWW semantics and the two-pass dedupe rely on). Sources whose
    native positions can collide (Debezium tx-shared LSNs, ts_ms
    fallbacks) must disambiguate on import — see
    sources/debezium_json.import_to_log.

    before/after are JSON strings so the log schema never changes even
    when the payload schema evolves (FIXTURES.md §2 v2/v3/v4).
    """
    return T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("key", key_schema(), False),
            T.StructField("before_json", T.StringType(), True),
            T.StructField("after_json", T.StringType(), True),
            T.StructField("source", SOURCE_SCHEMA, True),
            T.StructField("transaction", TRANSACTION_SCHEMA, True),
            # op='m' only: the non-envelope message body (open schema —
            # a DDL statement, a heartbeat, whatever the connector
            # publishes; Message.java:24-36). Null on data envelopes.
            # Nullable + name-matched, so logs written before this
            # column existed read as all-null under the fixed schema.
            T.StructField("message_json", T.StringType(), True),
            T.StructField("epoch_hint", T.LongType(), True),
            T.StructField("lsn_bucket", T.LongType(), False),
        ]
    )
