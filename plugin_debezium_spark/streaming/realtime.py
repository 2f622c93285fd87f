"""Structured Streaming delivery path (SURVEY.md §2.6 K2 / §3.3).

The reference's RealtimeTrigger wraps the engine in a reactive stream
and emits per-row (AbstractDebeziumRealtimeTrigger.java:117-186). The
Spark-native equivalent: ``readStream`` over the envelope-log dataset
with ``foreachBatch`` running the SAME apply body as the batch engine
— micro-batch MERGE + atomic epoch commit — under a short trigger (or
``availableNow`` for the reference's polling-Trigger cadence,
SURVEY.md §3.2: "exactly Spark's Trigger.AvailableNow").

foreachBatch is at-least-once; idempotent epoch commits (streaming
batch id = epoch id) give the same exactly-once observable as the
batch path.

Merge strategy: the streaming applier defaults to MERGE-ON-READ delta
appends. A per-micro-batch copy-on-write rewrite costs O(touched
table) per batch — with a short trigger against a large table that is
the classic scale-killer for a streaming applier (every tiny batch
rewrites whole buckets). MOR epochs append O(batch) delta files with
ZERO target I/O, tombstones make them safe under the file source's
lexical (out-of-LSN-order) delivery, and a cadence compaction folds
deltas back into base files every ``compact_every`` micro-batches.
``merge_mode="cow"`` keeps the old read-optimized behavior (lww_guard
rewrite per batch) for tables that are read far more than written.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from plugin_debezium_spark.models import envelope_log_schema
from plugin_debezium_spark.streaming.engine import (
    EngineConfig,
    _apply_epoch_variant,
    ensure_table,
    filter_events,
)


def stream_log(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    max_files_per_trigger: int = 8,
    merge_mode: str = "mor",
    compact_every: int | None = 64,
    expire_keep_last: int | None = 8,
):
    """Start the streaming applier; returns the StreamingQuery.

    Offsets live in BOTH Spark's streaming checkpoint (source progress)
    and our snapshot properties (epoch idempotence). The idempotence
    guard is SCOPED TO THIS CHECKPOINT (property
    ``stream_epoch:<checkpoint-hash>``), never the batch engine's
    shared epoch counter: a stream whose batch ids restart at 0 on a
    table previously populated by the batch engine (epoch ids 0..N)
    must not silently skip its first N micro-batches. After checkpoint
    loss (a new checkpoint dir), batches re-apply under a fresh scope —
    safe because both merge modes are idempotent under reapplication
    (MOR re-appends resolve to the same LWW winners; lww_guard COW is
    a fixed point).

    merge_mode:
      "mor" (default) — each micro-batch APPENDS delta files: epoch
        cost is O(batch) regardless of table size. The file source
        delivers files in LEXICAL order, not LSN order; MOR is
        inherently safe under that disorder because deletes persist as
        tombstones and readers LWW-resolve on (_lsn, _ts_ms) at scan
        time. Every ``compact_every`` micro-batches a compaction pass
        folds accumulated deltas into base files (read cost bounded
        without putting a table-sized rewrite in EVERY batch), then —
        unless ``expire_keep_last`` is None — retires snapshots beyond
        the ``expire_keep_last`` newest and reclaims their
        now-unreferenced files, so a long-running stream's disk usage
        tracks TABLE size, not stream length.
      "cow" — out-of-order-safe lww_guard rewrite per micro-batch
        (reads stay delta-free at the price of O(touched table) per
        batch — only for small tables or very slow triggers). The
        expiry cadence applies here too: superseded bucket rewrites
        accumulate per batch and must be reclaimed.

    TRUNCATE envelopes: an out-of-order truncate is ill-defined, so
    under the default truncate_policy="apply" a 't' event fails the
    stream loudly (merge_prepared raises); set
    ``truncate_policy="drop"`` on the config to skip them.
    """
    import dataclasses
    import hashlib

    # the file source delivers files in listing order, not LSN order —
    # a COW merge must be the out-of-order-safe variant (EngineConfig
    # refuses any merge_mode but "mor" and "cow")
    cfg = dataclasses.replace(
        cfg, merge_mode=merge_mode, lww_guard=merge_mode == "cow"
    )
    table = ensure_table(spark, cfg)
    ck = hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]
    epoch_key = f"stream_epoch:{ck}"

    # SCHEMA_ONLY/NO_DATA positional semantics (engine parity,
    # _run_inner): pin the log's high-water mark at FIRST start of
    # this checkpoint and skip everything at or below it — filter
    # events alone would only drop op='r' rows and silently replay
    # the historical stream. The pin commits durably even for an
    # empty log (pin=-1), the property's presence being the
    # first-start marker; checkpoint-scoped like the epoch key.
    pin = -1
    mode = cfg.snapshot_mode
    if mode in ("SCHEMA_ONLY", "NO_DATA"):
        from plugin_debezium_spark.plans.lake import ConcurrentCommitError
        from plugin_debezium_spark.sources.log_reader import (
            log_high_water_mark,
        )

        pkey = f"schema_only_pin:{ck}"
        # compare-and-set on the basis snapshot: two concurrent first
        # starts must agree on ONE hwm — an unconditional commit would
        # let the later (higher) derivation overwrite the pin and
        # silently skip every event that landed in the gap
        while True:
            snap = table.current()
            if pkey in snap.properties:
                pin = int(snap.properties[pkey])
                break
            pin = log_high_water_mark(cfg.log_dir)
            try:
                table.commit(
                    [],
                    set(),
                    properties={pkey: pin},
                    expected_parent=snap.snapshot_id,
                    summary={"operation": "schema_only_pin", pkey: pin},
                )
                break
            except ConcurrentCommitError:
                continue  # re-read: the racing writer's pin wins

    stream = (
        spark.readStream.schema(envelope_log_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(cfg.log_dir)
    )

    def _apply(batch_df, batch_id: int) -> None:
        # same ingest filters as the batch engine (DDL drop,
        # include/exclude, shard) — the two paths must not diverge
        batch_df = filter_events(cfg, batch_df)
        if pin >= 0:
            batch_df = batch_df.filter(F.col("lsn") > pin)
        if batch_df.isEmpty():
            return
        hi = batch_df.agg(F.max("lsn")).collect()[0][0]
        _apply_epoch_variant(
            spark,
            table,
            cfg,
            epoch_id=int(batch_id),
            hi=int(hi),
            events=batch_df,
            epoch_key=epoch_key,
        )
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            # cadence maintenance, inside foreachBatch so it never
            # races an epoch commit of THIS stream. Compaction folds
            # MOR deltas → base; expiry runs in BOTH merge modes (a
            # cow stream accumulates superseded bucket rewrites just
            # as fast — without it, disk grows with stream LENGTH, not
            # table size; anchored on the current pointer, so safe
            # under the stream's own sequential commits). A concurrent
            # writer on the same table (a batch engine sharing it —
            # stream_log's epoch_key design allows that) surfaces as
            # ConcurrentCommitError: maintenance is best-effort, so
            # swallow it and retry at the next cadence rather than
            # kill the stream (the epoch itself is already committed;
            # only this maintenance pass is lost).
            from plugin_debezium_spark.plans.compact import (
                compact,
                expire_snapshots,
            )
            from plugin_debezium_spark.plans.lake import (
                ConcurrentCommitError,
            )

            try:
                if cfg.merge_mode == "mor":
                    compact(table, min_files_per_bucket=2)
                if expire_keep_last:
                    expire_snapshots(table, keep_last=expire_keep_last)
            except ConcurrentCommitError:
                pass  # lost the race to another writer; next cadence

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_rows(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_path: str,
    fmt: str = "inline",
    deleted_policy=None,
    deleted_field: str | None = "deleted",
    key_mode: str = "keep",
    metadata_field: str | None = None,
    metadata_properties: dict | None = None,
    commit_mode: str = "on_each_batch",
    max_wait_s: float | None = None,
    poll_interval_s: float = 1.0,
):
    """Per-row realtime delivery — the reference's RealtimeTrigger
    contract (AbstractDebeziumRealtimeTrigger.java:117-186): one shaped
    record per change event, emitted in commit (LSN) order as a pull
    generator. The reference pushes each record to a single-consumer
    reactive FluxSink on the driver JVM; the honest Spark equivalent is
    ``toLocalIterator`` over each epoch's shaped DataFrame — rows are
    fetched one partition at a time (bounded driver memory), the
    consumer's pull rate IS the backpressure, and everything upstream
    of the iterator (decode, shaping, ordering) still runs distributed.

    Unlike the applier paths, NOTHING is deduped: every event in the
    log is emitted (the reference emits every ChangeEvent; LWW belongs
    to the sink, not the trigger). Images decode per epoch with the
    same variant inference the engine uses, so payload schema evolution
    shows up in emitted rows as it does in the lake table.

    Shaping mirrors ChangeConsumer's format pipeline: ``fmt`` is
    RAW/INLINE/WRAP (P1-P3), ``deleted_field`` adds the boolean P4
    column, ``key_mode`` "merge"/"drop"/"keep" is P5, and
    ``metadata_field`` packs the P6 struct (with ``metadata_properties``
    passthrough).

    Offsets: the last FULLY-DRAINED epoch's hi LSN is committed to
    ``checkpoint_path`` (atomic tmp+rename) — per epoch under
    ``commit_mode="on_each_batch"``, only at generator close under
    ``"on_stop"`` (the reference's two commit modes,
    AbstractDebeziumTask.java:154-163). A consumer that stops
    mid-epoch re-receives that epoch's rows on restart: the same
    at-least-once boundary as the reference's markProcessed/
    markBatchFinished (ChangeConsumer.java:86-89,116-119) — dedupe
    downstream by lsn if the sink needs exactly-once.

    snapshot_mode interplay: NEVER/INCREMENTAL skip op='r' rows via
    filter_events; SCHEMA_ONLY/NO_DATA pin the log's high-water mark
    at first start (committed to the checkpoint immediately, the
    engine's pin discipline) and emit only newer events.

    ``max_wait_s``: after draining, keep polling for new log rows for
    this long (reference maxWait) before the generator ends; None =
    end at first drain."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import types as T

    from plugin_debezium_spark.operators import shape as _shape
    from plugin_debezium_spark.operators.filters import Deleted
    from plugin_debezium_spark.plans.fs import LocalMetaFS
    from plugin_debezium_spark.sources.log_reader import (
        log_high_water_mark,
        plan_epochs,
        read_range,
    )
    from plugin_debezium_spark.streaming.engine import (
        _payload_schema,
        _variant_type,
    )

    if fmt not in ("raw", "inline", "wrap"):
        raise ValueError(f"fmt must be raw/inline/wrap: {fmt}")
    if commit_mode not in ("on_each_batch", "on_stop"):
        raise ValueError(f"unknown commit_mode: {commit_mode}")
    deleted_policy = (
        Deleted.ADD_FIELD if deleted_policy is None else deleted_policy
    )
    fs = LocalMetaFS()
    mode = cfg.snapshot_mode

    def _read_offset() -> int | None:
        if not fs.exists(checkpoint_path):
            return None
        return int(_json.loads(fs.read_text(checkpoint_path))["last_lsn"])

    def _commit(lsn: int) -> None:
        fs.mkdirs(os.path.dirname(checkpoint_path) or ".")
        fs.write_atomic(
            checkpoint_path, _json.dumps({"last_lsn": int(lsn)})
        )

    offset = _read_offset()
    if offset is None:
        offset = -1
        if mode in ("SCHEMA_ONLY", "NO_DATA"):
            offset = log_high_water_mark(cfg.log_dir)
            # pin BEFORE emitting, even when the log is still EMPTY
            # (hwm=-1): the checkpoint file's existence is the "first
            # start happened" marker — without it a restart would
            # re-derive a later hwm and skip gap events (engine parity)
            _commit(offset)

    def _shaped(events):
        ev = events
        # one inference over BOTH images (before appears on u/d only):
        # epoch-bounded agg, same schema_of_variant_agg the engine uses
        ddl = (
            ev.select(
                F.explode(
                    F.array("before_json", "after_json")
                ).alias("_j")
            )
            .filter(F.col("_j").isNotNull())
            .agg(F.expr("schema_of_variant_agg(parse_json(_j))"))
            .collect()[0][0]
        )
        schema = _payload_schema(_variant_type(ddl), T.StructType([]))
        if not schema.fields:  # keyless epoch of tombstones only
            schema = T.StructType([T.StructField("content", T.StringType())])
        s = schema.simpleString()
        typed = ev.select(
            "lsn",
            "ts_ms",
            "op",
            "key",
            "source",
            *(["transaction"] if "transaction" in ev.columns else []),
            *(
                ["message_json"]
                if fmt == "raw" and "message_json" in ev.columns
                else []
            ),
            F.expr(f"cast(parse_json(before_json) as {s})").alias("before"),
            F.expr(f"cast(parse_json(after_json) as {s})").alias("after"),
        )
        if cfg.column_truncate or cfg.column_mask or cfg.column_mask_hash:
            # capture-side column transforms apply to per-row delivery
            # too (Debezium masks in the connector, upstream of the
            # RealtimeTrigger): BOTH images, under the engine's rules
            # over this epoch's inferred schema
            from plugin_debezium_spark.models import KEY_COLS
            from plugin_debezium_spark.operators.masking import (
                applicable_transforms,
                mask_envelope_images,
            )

            truncate, mask, hash_salt = applicable_transforms(
                {f.name: f.dataType.simpleString() for f in schema.fields},
                cfg.column_truncate,
                cfg.column_mask,
                cfg.column_mask_hash,
                key_cols=KEY_COLS,
                strict=False,
            )
            typed = mask_envelope_images(
                typed, truncate=truncate, mask=mask, hash_salt=hash_salt
            )
        if fmt == "raw":
            return _shape.raw(typed).orderBy(F.col("value.lsn"))
        out = (
            _shape.inline(typed, deleted_policy)
            if fmt == "inline"
            else _shape.wrap(typed, deleted_policy)
        )
        if deleted_field:
            out = _shape.add_deleted(out, deleted_field)
        if key_mode in ("merge", "drop"):
            out = _shape.add_key(out, drop=key_mode == "drop")
        if metadata_field:
            out = _shape.add_metadata(
                out, metadata_field, metadata_properties
            )
        return out.orderBy("lsn")

    last_drained = offset
    try:
        deadline = None
        while True:
            try:
                epochs = plan_epochs(
                    spark, cfg.log_dir, last_drained, cfg.max_events_per_batch
                )
            except FileNotFoundError:
                # connector-first deployment: the producer hasn't
                # created the log dir yet — poll like an empty log
                # (log_high_water_mark above tolerates the same)
                epochs = []
            for ep in epochs:
                events = filter_events(
                    cfg,
                    read_range(
                        spark, cfg.log_dir, ep["lo"], ep["hi"], ep["buckets"]
                    ),
                )
                for row in _shaped(events).toLocalIterator():
                    yield row
                last_drained = int(ep["hi"])
                if commit_mode == "on_each_batch":
                    _commit(last_drained)
            if max_wait_s is None:
                return
            now = _time.time()
            if epochs:
                deadline = now + max_wait_s  # new rows reset the wait
            elif deadline is None:
                deadline = now + max_wait_s
            if now >= deadline:
                return
            _time.sleep(poll_interval_s)
    finally:
        if commit_mode == "on_stop" and last_drained > offset:
            _commit(last_drained)


def run_available_now(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    merge_mode: str = "mor",
    compact_every: int | None = 64,
    expire_keep_last: int | None = 8,
) -> None:
    """Reference poll-Trigger cadence (§3.2): drain everything
    currently in the log, then stop."""
    q = stream_log(
        spark,
        cfg,
        checkpoint_dir,
        available_now=True,
        merge_mode=merge_mode,
        compact_every=compact_every,
        expire_keep_last=expire_keep_last,
    )
    q.awaitTermination()
