"""Schema evolution step (SURVEY.md §4, §7 step 5).

Per micro-batch, before the MERGE: diff the batch's decoded payload
schema against the table schema and produce the evolved sink schema —
added columns append (nullable), numeric types widen along the lattice
in functions/decode.merge_types, enum growth (new lang values) is a
data-level no-op. The reference gets this implicitly from per-record
Connect schemas + a schema-history file (AbstractDebeziumTask.java:
535-538, migration :465-518); we make it an explicit, auditable diff.
"""

from __future__ import annotations

from pyspark.sql import types as T

from plugin_debezium_spark.functions.decode import merge_types


def evolve_schema(
    table_schema: T.StructType, batch_schema: T.StructType
) -> tuple[T.StructType, list[str]]:
    """Return (evolved schema, human-readable change list).

    Column order: existing table columns first (stable positions, like
    Iceberg field-id semantics), new columns appended in batch order.
    """
    changes: list[str] = []
    batch = {f.name: f.dataType for f in batch_schema.fields}
    out: list[T.StructField] = []
    for f in table_schema.fields:
        if f.name in batch and batch[f.name] != f.dataType:
            widened = merge_types(f.dataType, batch[f.name])
            if widened != f.dataType:
                changes.append(
                    f"widen {f.name}: {f.dataType.simpleString()} -> "
                    f"{widened.simpleString()}"
                )
            out.append(T.StructField(f.name, widened, True))
        else:
            out.append(T.StructField(f.name, f.dataType, True))
    known = {f.name for f in table_schema.fields}
    for f in batch_schema.fields:
        if f.name not in known:
            changes.append(f"add column {f.name}: {f.dataType.simpleString()}")
            out.append(T.StructField(f.name, f.dataType, True))
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
