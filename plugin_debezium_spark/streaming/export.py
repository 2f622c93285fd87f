"""Per-stream shaped export (the reference's actual delivery artifact).

The reference's Capture doesn't maintain a table — it appends each
shaped row to one file per stream and returns {stream: uri}
(ChangeConsumer.java:162-193, upload AbstractDebeziumTask.java:
250-268). This module reproduces that contract lake-style: shape the
envelope stream with the configured Format/options, route by
SplitTable, write one partition directory per stream, and return the
per-stream row counts + paths (the reference's Output{uris, size}).
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from plugin_debezium_spark.models import DATA_OPS
from plugin_debezium_spark.operators.filters import (
    Deleted,
    apply_deleted_policy,
    drop_ddl,
    include_exclude,
)
from plugin_debezium_spark.operators.routing import SplitTable, route
from plugin_debezium_spark.operators.shape import (
    add_deleted,
    add_key,
    add_metadata,
    inline,
    raw,
    wrap,
)
from plugin_debezium_spark.sources.log_reader import read_after
from plugin_debezium_spark.streaming.engine import decode_images


class Format(str, Enum):
    """Reference format enum (RAW/INLINE/WRAP)."""

    RAW = "RAW"
    INLINE = "INLINE"
    WRAP = "WRAP"


@dataclass
class ExportConfig:
    log_dir: str
    out_dir: str
    format: Format = Format.INLINE
    split_table: SplitTable = SplitTable.TABLE
    deleted: Deleted = Deleted.ADD_FIELD
    deleted_field_name: str = "deleted"
    # reference default is Metadata.ADD_FIELD (AbstractDebeziumTask.java:88)
    metadata: bool = True
    metadata_field_name: str = "metadata"
    key: bool = True  # ADD_FIELD vs DROP (reference Key enum)
    ignore_ddl: bool = True
    db_include: str | None = None
    db_exclude: str | None = None
    table_include: str | None = None
    table_exclude: str | None = None
    last_lsn: int = -1


def shape_stream(events: DataFrame, cfg: ExportConfig) -> DataFrame:
    """The reference's handle() dispatch (ChangeConsumer.java:130-145):
    filter → format shape → deleted/key/metadata columns."""
    if cfg.format == Format.RAW:
        # only RAW may pass non-envelope events, and only when
        # ignoreDdl is off (ChangeConsumer.java:196-210)
        df = drop_ddl(events, cfg.ignore_ddl)
    else:
        # structured formats always drop non-envelope events,
        # regardless of ignoreDdl (ChangeConsumer.java:204-209)
        df = events.filter(F.col("op").isin(*DATA_OPS))
    df = include_exclude(
        df,
        db_include=cfg.db_include,
        db_exclude=cfg.db_exclude,
        table_include=cfg.table_include,
        table_exclude=cfg.table_exclude,
    )
    df = apply_deleted_policy(df, cfg.deleted)
    if cfg.format == Format.RAW:
        # RAW keeps the envelope but still carries the deleted flag
        # (handleFormatRaw calls addDeleted — ChangeConsumer.java:215-223)
        shaped = raw(df)
        if cfg.deleted == Deleted.ADD_FIELD:
            shaped = shaped.withColumn(
                cfg.deleted_field_name, F.col("value.op").isin("d", "t")
            )
        return shaped.withColumn("source", F.col("value.source"))
    shaper = inline if cfg.format == Format.INLINE else wrap
    shaped = shaper(df, cfg.deleted)
    if cfg.deleted == Deleted.ADD_FIELD:
        shaped = add_deleted(shaped, cfg.deleted_field_name)
    if cfg.metadata:
        shaped = add_metadata(shaped, cfg.metadata_field_name)
    shaped = add_key(shaped, drop=not cfg.key)
    # raw envelope columns are packed into metadata by now
    return shaped.drop("op", "ts_ms", "lsn", "transaction")


def export(spark: SparkSession, cfg: ExportConfig) -> dict:
    """Run the shaped export; returns {uris, size, counts} (the
    reference's Output). Zero new records → empty Output, no crash
    (the trigger's no-execution case, mysql/Trigger.java:105-107)."""
    decoded, _ = decode_images(read_after(spark, cfg.log_dir, cfg.last_lsn))
    routed = route(shape_stream(decoded, cfg), cfg.split_table).drop(
        "source"
    ).cache()
    try:
        counts = {
            r["stream"]: r["n"]
            for r in routed.groupBy("stream").agg(F.count("*").alias("n")).collect()
        }
        if counts:
            routed.write.mode("overwrite").partitionBy("stream").parquet(
                cfg.out_dir
            )
    finally:
        routed.unpersist()
    # uris from the directories Spark actually wrote (partition values
    # with special characters are %-escaped on disk)
    uris: dict[str, str] = {}
    if os.path.isdir(cfg.out_dir):
        for d in os.listdir(cfg.out_dir):
            if d.startswith("stream="):
                stream = urllib.parse.unquote(d.split("=", 1)[1])
                uris[stream] = os.path.join(cfg.out_dir, d)
    return {"uris": uris, "size": int(sum(counts.values())), "counts": counts}
