"""Per-stream counters (SURVEY.md §2.5 A1; north rule: "per-partition
lineage/metrics tables").

The reference emits Kestra Counter metrics per stream
(ChangeConsumer.java:48,184-190; AbstractDebeziumTask.java:270-279).
The engine no longer writes them as separate tables: each epoch's
per-op counts, LSN slice and per-stream counts ride its one stats
action (streaming/engine._epoch_agg) and commit inside its snapshot
summary, read back with ``LakeTable.history()``. ``stream_counts`` is
the same per-stream count as a standalone operator over any envelope
frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plugin_debezium_spark.operators.routing import SplitTable, stream_name


def stream_counts(df: DataFrame, split: SplitTable = SplitTable.TABLE) -> DataFrame:
    return (
        df.groupBy(stream_name(split).alias("stream"))
        .agg(F.count("*").alias("records_count"))
        .orderBy("stream")
    )
