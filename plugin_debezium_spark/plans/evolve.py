"""The payload type lattice and the schema evolution step (SURVEY.md
§4, §7 step 5).

One type path serves every ingest and delivery path: an epoch's
payload type is ``schema_of_variant_agg`` over its images
(:func:`variant_type` parses the DDL), per-group results and
cross-epoch table types fold with :func:`merge_types`, and
:func:`table_type` normalizes a type before it meets a table or a
cast target (no VOID or VARIANT leaf reaches a parquet file). Because
the fold mirrors Spark's own aggregate exactly, the table schema does
not depend on where epochs close.

Per micro-batch, before the MERGE, :func:`evolve_schema` diffs the
batch's payload schema against the table schema: added columns append
(nullable), types widen along :func:`merge_types`, enum growth (new
lang values) is a data-level no-op. The reference gets this implicitly
from per-record Connect schemas + a schema-history file
(AbstractDebeziumTask.java:535-538, migration :465-518); we make it an
explicit, auditable diff.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Spark's DecimalType.forType digits per integral type
_INTEGRAL_DIGITS = {
    T.ByteType: 3,
    T.ShortType: 5,
    T.IntegerType: 10,
    T.LongType: 20,
}
_NUMERIC = (*_INTEGRAL_DIGITS, T.DecimalType, T.FloatType, T.DoubleType)


def variant_type(ddl: str | None) -> T.DataType:
    """schema_of_variant(_agg) DDL → DataType ('OBJECT<...>' → struct;
    VOID → NullType, VARIANT → VariantType)."""
    if not ddl:
        return T.NullType()
    return T._parse_datatype_string(ddl.replace("OBJECT<", "STRUCT<"))


def merge_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least upper bound of two payload types: the merge
    schema_of_variant_agg applies across rows, mirrored on the driver,
    so folding per-group results with it gives exactly the type one
    global aggregate would (tests/test_epoch_summary.py pins it against
    Spark). Integers are BIGINT, which widens into decimals as
    DECIMAL(20,0); a decimal wider than 38 digits, or any decimal
    meeting a DOUBLE, becomes DOUBLE; object fields union in name
    order; anything else incompatible becomes VARIANT (STRING once
    :func:`table_type` normalizes it). Spark-native columns (merge_batch
    callers) widen the same way: an integral type to the wider one or
    to its DECIMAL digits, and FLOAT to DOUBLE."""
    if a == b or isinstance(b, T.NullType):
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(a, _NUMERIC) and isinstance(b, _NUMERIC):
        if {type(a), type(b)} & {T.FloatType, T.DoubleType}:
            return T.DoubleType()
        da, db = (_INTEGRAL_DIGITS.get(type(x)) for x in (a, b))
        if da and db:
            return a if da >= db else b
        da, db = (
            x if d is None else T.DecimalType(d, 0)
            for x, d in ((a, da), (b, db))
        )
        scale = max(da.scale, db.scale)
        digits = max(da.precision - da.scale, db.precision - db.scale) + scale
        return T.DecimalType(digits, scale) if digits <= 38 else T.DoubleType()
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fa = {f.name: f.dataType for f in a.fields}
        fb = {f.name: f.dataType for f in b.fields}
        return T.StructType(
            [
                T.StructField(
                    n,
                    merge_types(fa.get(n, T.NullType()), fb.get(n, T.NullType())),
                    True,
                )
                for n in sorted(fa.keys() | fb.keys())
            ]
        )
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_types(a.elementType, b.elementType), True)
    return T.VariantType()


def table_type(dt: T.DataType) -> T.DataType:
    """The storable form of an inferred type: VARIANT leaves become
    STRING (a variant casts to its JSON text), struct fields that are
    VOID (null in every row) are dropped, and so is a struct left with
    no field; an array of VOID holds strings. Returns NullType when
    nothing storable is left, so a later epoch's typed value adds the
    column as if the all-null epoch had been folded in with it."""
    if isinstance(dt, T.VariantType):
        return T.StringType()
    if isinstance(dt, T.StructType):
        kept = [(f.name, table_type(f.dataType)) for f in dt.fields]
        fields = [
            T.StructField(n, t, True)
            for n, t in kept
            if not isinstance(t, T.NullType)
        ]
        return T.StructType(fields) if fields else T.NullType()
    if isinstance(dt, T.ArrayType):
        elem = table_type(dt.elementType)
        if isinstance(elem, T.NullType):
            elem = T.StringType()
        return T.ArrayType(elem, True)
    return dt


def evolve_schema(
    table_schema: T.StructType, batch_schema: T.StructType
) -> tuple[T.StructType, list[str]]:
    """Return (evolved schema, human-readable change list).

    Column order: existing table columns first (stable positions, like
    Iceberg field-id semantics), new columns appended in batch order.
    Every type goes through :func:`table_type`: a batch column that is
    VOID adds nothing.
    """
    changes: list[str] = []
    batch = {f.name: f.dataType for f in batch_schema.fields}
    out: list[T.StructField] = []
    for f in table_schema.fields:
        t = f.dataType
        if f.name in batch and batch[f.name] != t:
            widened = table_type(merge_types(t, batch[f.name]))
            if widened != t:
                changes.append(
                    f"widen {f.name}: {t.simpleString()} -> "
                    f"{widened.simpleString()}"
                )
                t = widened
        out.append(T.StructField(f.name, t, True))
    known = {f.name for f in table_schema.fields}
    for f in batch_schema.fields:
        t = table_type(f.dataType)
        if f.name not in known and not isinstance(t, T.NullType):
            changes.append(f"add column {f.name}: {t.simpleString()}")
            out.append(T.StructField(f.name, t, True))
    return T.StructType(out), changes


_SPARK_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"


def rebuild_schema_history(table) -> "object":
    """Lake-native RECOVERY (round-5 verdict #5; reference snapshot
    mode RECOVERY, mysql/MysqlInterface.java:43-53): Debezium's
    RECOVERY rebuilds a lost/corrupt schema-history topic from the
    database, then streams without a data snapshot. The lake analogue:
    the schema lineage lives in the manifest (``schemas`` +
    per-file ``schema_id``); when that evolution state is discarded or
    corrupted, rebuild it from the table's OWN data files — every
    parquet footer carries the EXACT Spark schema the file was written
    with (the ``org.apache.spark.sql.parquet.row.metadata`` key), so
    no type inference and no reconversion ambiguity is involved.

    Scale shape: footers are read driver-side on a thread pool (the
    same metadata-only discipline as log_reader._bucket_stats — zero
    data pages, max-per-file latency, not sum); distinct schemas are
    deduped by their JSON, so the lineage is O(evolution length), not
    O(files). Lineage order is first appearance in manifest file order
    (commit order). The current schema is the evolve_schema fold over
    that lineage — reproducing the add-column/widening history the
    original commits applied. Commits a metadata-only snapshot
    (optimistic, expected_parent = the basis) with every file remapped
    to its rebuilt schema_id; returns the new Snapshot."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import json as _json

    import pyarrow.parquet as pq

    prev = table.current()
    if not prev.files:
        return prev  # nothing to rebuild from; fresh table

    def _footer_schema(f: dict) -> str:
        full = os.path.join(table.path, f["path"])
        md = pq.ParquetFile(full).metadata.metadata or {}
        sj = md.get(_SPARK_ROW_META)
        if sj is None:
            raise ValueError(
                f"RECOVERY: {f['path']} carries no Spark schema footer "
                "metadata — not written by this engine; cannot rebuild "
                "its lineage entry"
            )
        # canonicalize so dict-order differences don't split schemas
        return _json.dumps(_json.loads(sj), sort_keys=True)

    with ThreadPoolExecutor(max_workers=16) as ex:
        footer_jsons = list(ex.map(_footer_schema, prev.files))

    schemas: list[dict] = []
    sid_of: dict[str, int] = {}
    new_files = []
    for f, sj in zip(prev.files, footer_jsons):
        if sj not in sid_of:
            sid_of[sj] = len(schemas)
            schemas.append(_json.loads(sj))
        nf = dict(f)
        nf["schema_id"] = sid_of[sj]
        new_files.append(nf)

    # current schema = the evolution fold of the recovered lineage
    cur = T.StructType.fromJson(schemas[0])
    for s in schemas[1:]:
        cur, _ = evolve_schema(cur, T.StructType.fromJson(s))
    cur_json = cur.jsonValue()
    canon = _json.dumps(cur_json, sort_keys=True)
    if canon in sid_of:
        schema_id = sid_of[canon]
    else:
        schema_id = len(schemas)
        schemas.append(cur_json)

    return table.commit_metadata(
        schemas=schemas,
        schema_id=schema_id,
        files=new_files,
        expected_parent=prev.snapshot_id,
        properties={"schema_history_recovered": True},
        summary={"operation": "recovery", "schemas": len(schemas)},
    )
