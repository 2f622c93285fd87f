"""DBLog-style incremental snapshot: chunked source-table bootstrap
interleaved with the change stream.

The reference plugin's snapshot modes are all all-upfront
(mysql/MysqlInterface.java:43-53): the op='r' phase must finish before
the first change event applies, so bootstrapping a 100 TB table stalls
the stream for the whole snapshot. Debezium's incremental snapshot
(the DBLog watermark algorithm; debezium.io/documentation incremental
snapshots) reads the source table in PK-ordered chunks WHILE the
stream keeps flowing, deduplicating each chunk against the change
events that arrived between the chunk's low/high watermarks.

Spark-first re-expression (no per-row watermark signals needed):

- a *chunk* is a set of parquet FILES of the source-state dump —
  file-granular work units like Structured Streaming's file source.
  Planning reads parquet footers only (row counts), so chunking a
  10^10-row dump costs a directory listing, and each chunk scan reads
  exactly its own files (perfect pruning, no re-scan per chunk).
- the *watermark dedupe* is the lake's out-of-order LWW merge: chunk
  rows are stamped at (or below) the source capture position S and
  merged with ``lww_guard`` tombstone semantics, so any stream event
  with a later position wins per key and a delete that streamed in
  before its chunk arrived is never resurrected — the same invariant
  DBLog's in-window dedupe provides, but enforced by the same merge
  the engine already trusts for out-of-order file-stream delivery.
- *resume* rides a dedicated snapshot property (``incr_chunks_done``)
  committed atomically with each chunk's merge (the engine's combined
  offsets+data commit, AbstractDebeziumTask.java:700-732 lesson), so
  a crash mid-bootstrap re-runs at most the in-flight chunk, which the
  idempotence guard then skips.

The source dump must be a *state* dump: one row per key, the table's
content as of position S. If it carries a per-row last-modified
position column (``incremental_lsn_col``), chunk rows keep their true
per-key position (exact ``_lsn`` provenance in the target); otherwise
every chunk row is stamped uniformly at S — final state is identical
either way because all stream positions replayed afterwards are > S.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from plugin_debezium_spark.functions.hashing import content_sha256
from plugin_debezium_spark.models import KEY_COLS
from plugin_debezium_spark.plans.lake import LakeTable, bucket_expr
from plugin_debezium_spark.plans.merge import merge_prepared

# snapshot property tracking the highest chunk id committed (also the
# idempotence scope of each chunk's merge — never mixed with the
# stream's last_epoch_id counter)
CHUNK_PROP = "incr_chunks_done"


def plan_chunks(source_dir: str, chunk_rows: int) -> list[dict]:
    """Group the dump's parquet files into chunks of ~chunk_rows.

    Footer-only planning (num_rows per file), thread-pooled like the
    log planner (log_reader._bucket_stats): cost is a listing + one
    footer read per file, zero data pages. File order is lexical —
    deterministic across runs, which is what makes the chunk ids a
    valid resume cursor. Empty files are dropped so every planned
    chunk applies at least one row (progress commits ride the merge).
    """
    import pyarrow.parquet as pq

    names = sorted(
        f
        for f in os.listdir(source_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    paths = [os.path.join(source_dir, n) for n in names]
    with ThreadPoolExecutor(max_workers=16) as ex:
        counts = list(
            ex.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)
        )
    chunks: list[dict] = []
    files: list[str] = []
    acc = 0
    for path, n in zip(paths, counts):
        if n == 0:
            continue
        files.append(path)
        acc += n
        if acc >= chunk_rows:
            chunks.append({"files": files, "n": acc})
            files, acc = [], 0
    if files:
        chunks.append({"files": files, "n": acc})
    return chunks


def apply_chunk(
    spark: SparkSession,
    table: LakeTable,
    cfg,
    chunk_id: int,
    chunk: dict,
    source_lsn: int,
) -> dict:
    """Merge one snapshot chunk into the table as op='r' rows.

    The chunk is a state dump slice: already one row per key (keys
    never span files), so the stream's LWW dedupe is skipped — the
    batch goes straight to merge_prepared with the chunk-scoped
    idempotence key. Stamped at the per-row position when
    ``incremental_lsn_col`` is set, else uniformly at S; merged with
    tombstone-retaining semantics (lww_guard / mor) so concurrent
    stream epochs with later positions always win per key.
    """
    src = spark.read.parquet(*chunk["files"])
    lsn_col = getattr(cfg, "incremental_lsn_col", None)
    if lsn_col is not None and lsn_col in src.columns:
        pos = F.col(lsn_col).cast("long")
    else:
        pos = F.lit(int(source_lsn)).cast("long")
    payload_cols = [
        c for c in src.columns if c not in KEY_COLS and c != lsn_col
    ]
    nb = table.current().n_buckets
    batch = src.select(
        *KEY_COLS,
        *payload_cols,
        content_sha256(F.col("content"), cfg.sha_mode).alias(
            "content_sha256"
        ),
        pos.alias("_lsn"),
        pos.alias("_ts_ms"),
        F.lit("r").alias("op"),
    )
    # capture-side column transforms apply to bootstrap chunks too —
    # these ARE snapshot rows, and the config's contract is "masked
    # values never reach the lake" on EVERY ingest path. (The
    # snapshot_overrides predicate, by contrast, is an expression over
    # the ENVELOPE frame and cannot be evaluated on a dump chunk —
    # pre-filter the dump itself, which is the user-supplied artifact.)
    from plugin_debezium_spark.streaming.engine import _ingest_transforms

    batch = (
        _ingest_transforms(batch, cfg)
        .withColumn("_bucket", bucket_expr(KEY_COLS, nb))
        .cache()
    )
    try:
        agg = batch.agg(
            F.count("*").alias("n"), F.collect_set("_bucket").alias("bs")
        ).collect()[0]
        stats = merge_prepared(
            table,
            batch,
            touched=sorted(int(b) for b in agg["bs"]),
            n_batch_keys=int(agg["n"]),
            epoch_id=chunk_id,
            # chunk positions are ≤ S ≤ the committed stream watermark;
            # the guard/mor merges max() this against the table's
            # last_lsn so a late chunk never winds the offset back
            last_lsn=int(source_lsn),
            lww_guard=cfg.merge_mode == "cow",
            mor=cfg.merge_mode == "mor",
            epoch_key=CHUNK_PROP,
            # from the action above: a chunk's summary costs no job
            summary={
                "operation": "chunk",
                "chunk_id": chunk_id,
                "rows": int(agg["n"]),
                "buckets": len(agg["bs"]),
            },
        )
        stats["chunk_id"] = chunk_id
        stats["chunk_rows"] = int(chunk["n"])
        # snapshot rows never count toward maxRecords (reference
        # AbstractDebeziumTask.java:618-621 parity, same as op='r')
        stats["n_stream"] = 0
        stats["has_stream"] = False
        return stats
    finally:
        batch.unpersist()
