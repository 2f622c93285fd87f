"""Change-log source: read the WAL dataset, resume past an offset,
plan micro-batch LSN ranges (SURVEY.md §2.1 S1/S3).

Reference behavior being reproduced: the Debezium engine resumes from
the stored offset map (AbstractDebeziumTask.java:528-530, restore
:640-670). Here the offset is a single LSN and "seeking past it" is a
filter on a partition column — Catalyst turns it into partition
pruning, so a resume never rescans applied history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_log(spark: SparkSession, log_dir: str) -> DataFrame:
    return spark.read.parquet(log_dir)


def read_after(spark: SparkSession, log_dir: str, last_lsn: int) -> DataFrame:
    """Everything newer than the checkpoint. ``lsn_bucket`` is the
    partition column; the redundant bucket predicate makes pruning
    explicit even when bucket size isn't known to the optimizer."""
    df = read_log(spark, log_dir)
    return df.filter(F.col("lsn") > F.lit(last_lsn))


def plan_epochs(
    spark: SparkSession,
    log_dir: str,
    last_lsn: int,
    max_events_per_batch: int,
) -> list[dict]:
    """Split remaining log into LSN ranges of ~max_events_per_batch.

    Uses the lsn_bucket partition values (directory listing scale, not
    data scale) plus one bounded aggregate — cheap even on a 10^10-row
    log because it reads only the ``lsn`` column of unapplied buckets.
    Returns [{"lo": exclusive, "hi": inclusive, "buckets": [...]}, ...]
    — the bucket list lets the epoch read prune partitions outright.
    """
    stats = _bucket_stats(log_dir, last_lsn)
    epochs: list[dict] = []
    lo = last_lsn
    acc = 0
    buckets: list[int] = []
    for bucket, n, hi in stats:
        acc += n
        buckets.append(bucket)
        if acc >= max_events_per_batch:
            epochs.append({"lo": lo, "hi": hi, "buckets": buckets, "n": acc})
            lo = hi
            acc = 0
            # epochs close on bucket boundaries (hi = bucket max), so
            # the closed bucket is fully consumed
            buckets = []
    if acc > 0:
        epochs.append(
            {"lo": lo, "hi": stats[-1][2], "buckets": buckets, "n": acc}
        )
    return epochs


def log_high_water_mark(log_dir: str) -> int:
    """Max lsn across the whole log, from parquet footer statistics
    only (zero data pages). SCHEMA_ONLY/NO_DATA's "current position"
    pin: Debezium captures the server's current log position at first
    connector start and streams only past it; the lake-resident
    equivalent is the log's high-water mark at engine start
    (streaming/engine.py). Returns -1 for an empty or absent log."""
    try:
        stats = _bucket_stats(log_dir, -1)
    except FileNotFoundError:
        return -1
    return max((hi for _, _, hi in stats), default=-1)


def bucket_dirs(log_dir: str) -> list[str]:
    """The log's ``lsn_bucket=`` partition dir names, sorted (raises
    FileNotFoundError for an absent log dir)."""
    import os

    return [
        n for n in sorted(os.listdir(log_dir)) if n.startswith("lsn_bucket=")
    ]


def _bucket_stats(log_dir: str, last_lsn: int) -> list[tuple[int, int, int]]:
    """Per-bucket (bucket, n_remaining, max_lsn) from parquet FOOTER
    metadata only — planning a 10^10-event replay reads zero data
    pages, just file statistics (the same trick Iceberg manifests
    pull). Approximation: a bucket whose max_lsn > last_lsn counts all
    its rows; fine because epochs close on bucket boundaries, so a
    resume never lands mid-bucket — EXCEPT when tx-aligned commits are
    in play (align_epochs_to_transactions lowers a boundary to
    straddler_min − 1, mid-bucket). A resume from such a stop
    attributes the partially-consumed bucket's FULL row count to the
    first replanned epoch, so that epoch's size estimate runs high
    (sizing only — correctness is unaffected: read_range still filters
    lsn > last_lsn; ADVICE r5 #4).

    Footer reads fan out over a thread pool (pyarrow footer parsing
    drops the GIL): planning cost is max-per-bucket, not
    sum-over-buckets — the driver-side metadata walk stops being a
    serial tax as buckets/files grow."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def _scan_bucket(name: str) -> tuple[int, int, int] | None:
        bucket = int(name.split("=")[1])
        n = 0
        hi = None
        for f in os.listdir(os.path.join(log_dir, name)):
            if not f.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(log_dir, name, f))
            md = pf.metadata
            n += md.num_rows
            # row-group columns index over FLATTENED leaf columns
            # (struct fields count) — locate lsn by its schema path,
            # never by a top-level field index
            rg0 = md.row_group(0)
            idx = next(
                (
                    i
                    for i in range(rg0.num_columns)
                    if rg0.column(i).path_in_schema == "lsn"
                ),
                None,
            )
            if idx is None:
                raise ValueError(f"log file has no 'lsn' column: {f}")
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx)
                if col.statistics and col.statistics.has_min_max:
                    mx = col.statistics.max
                    hi = mx if hi is None else max(hi, mx)
            if hi is None:
                raise ValueError(
                    f"parquet statistics missing for lsn in {f} — epoch "
                    "planning needs column min/max (write with stats "
                    "enabled, the parquet default)"
                )
        if hi is not None and hi > last_lsn:
            return (bucket, n, hi)
        return None

    names = bucket_dirs(log_dir)
    with ThreadPoolExecutor(max_workers=min(16, max(len(names), 1))) as ex:
        out = [r for r in ex.map(_scan_bucket, names) if r is not None]
    return sorted(out)


def align_epochs_to_transactions(
    spark: SparkSession, log_dir: str, epochs: list[dict]
) -> list[dict]:
    """Lower epoch boundaries so no transaction is split across two
    epochs — every committed table state a consumer can read is then
    transactionally consistent with the source, not just eventually
    convergent (the reference surfaces Debezium's transaction block
    on every message, Envelope.java:36-37; this makes the engine
    HONOR it at commit granularity).

    Contract this leans on: Debezium delivers COMMITTED transactions
    in commit order — a transaction's events are contiguous in the
    stream, so each transaction occupies a contiguous LSN range in
    the imported log. A boundary ``hi`` therefore splits a
    transaction iff the transaction containing the last event ≤ hi
    extends past hi, which is detectable from the BOUNDARY buckets
    alone: one partition-pruned job over the closing bucket of each
    epoch and the opening bucket of its successor aggregates per-tx
    (min, max) LSN; the straddlers (at most one per boundary under
    contiguity) are collected — a tiny result — and each affected
    boundary drops to straddler_min − 1, with the closing bucket
    carried into the successor's pruning list (the bucket's tail now
    belongs to the next epoch). Planning stays footer/boundary-scale:
    no full-log pass, no shuffle beyond the boundary buckets.

    When lowering would leave an epoch empty (the straddler begins
    right after the epoch's lo — the natural shape when RESUMING past
    an aligned stop, since re-planning re-closes on the bucket
    boundary), the boundary is removed instead: the epoch merges into
    its successor, so the restart picks up the whole transaction in
    one commit.

    Limits, by design: a transaction that began at or before an
    epoch's lo (a prior commit point) is already split and cannot be
    aligned (warned, boundary left — a transaction larger than
    max_events_per_batch is a source anomaly); the scan
    window is the boundary buckets, so a transaction longer than one
    bucket span (1M LSNs at defaults) is out of contract. Snapshot
    reads carry no transaction block and never constrain a boundary.
    Epoch ``n`` sizing hints are not adjusted (a few events shift to
    the successor; sizing is approximate already)."""
    if len(epochs) < 2:
        return epochs
    import warnings

    if "transaction" not in read_log(spark, log_dir).columns:
        warnings.warn(
            "tx_align requested but the log has no 'transaction' "
            "column — boundaries left unaligned",
            stacklevel=2,
        )
        return epochs
    his = [int(e["hi"]) for e in epochs[:-1]]
    window = sorted(
        {int(epochs[i]["buckets"][-1]) for i in range(len(epochs) - 1)}
        | {int(epochs[i + 1]["buckets"][0]) for i in range(len(epochs) - 1)}
    )
    tx = (
        read_log(spark, log_dir)
        .filter(F.col("lsn_bucket").isin(window))
        .filter(F.col("transaction.id").isNotNull())
        .groupBy(F.col("transaction.id").alias("_tx"))
        .agg(F.min("lsn").alias("_lo"), F.max("lsn").alias("_hi"))
    )
    bdf = spark.createDataFrame([(h,) for h in his], "b bigint")
    strad = (
        tx.join(
            F.broadcast(bdf),
            (F.col("_lo") <= F.col("b")) & (F.col("b") < F.col("_hi")),
        )
        .groupBy("b")
        .agg(F.min("_lo").alias("lo_min"), F.count("*").alias("n_tx"))
        .collect()
    )
    cut = {int(r["b"]): (int(r["lo_min"]), int(r["n_tx"])) for r in strad}
    result: list[dict] = []
    cur = dict(epochs[0])
    for e in epochs[1:]:
        nxt = dict(e)
        h = int(cur["hi"])
        if h in cut:
            lo_min, n_tx = cut[h]
            if n_tx > 1:
                warnings.warn(
                    f"{n_tx} transactions straddle boundary lsn={h} — "
                    "the log violates committed-transaction contiguity; "
                    "aligning to the earliest straddler",
                    stacklevel=2,
                )
            new_hi = lo_min - 1
            lo = int(cur["lo"])
            if new_hi > lo:
                cur["hi"] = new_hi
                nxt["lo"] = new_hi
                tail_bucket = cur["buckets"][-1]
                if tail_bucket not in nxt["buckets"]:
                    nxt["buckets"] = [tail_bucket] + list(nxt["buckets"])
                result.append(cur)
                cur = nxt
            elif new_hi == lo:
                # the straddler begins right after this epoch's lo (the
                # resume-after-aligned-stop shape): lowering would leave
                # an empty epoch — remove the boundary instead by
                # merging this epoch into its successor
                nxt["lo"] = lo
                nxt["buckets"] = sorted(
                    set(cur["buckets"]) | set(nxt["buckets"])
                )
                nxt["n"] = int(cur.get("n", 0)) + int(nxt.get("n", 0))
                cur = nxt
            else:
                # the transaction began at or before lo — lo was a
                # prior commit point, so it is already split (or the
                # log violates contiguity); nothing sound to do here
                warnings.warn(
                    f"a transaction starting at lsn={lo_min} spans the "
                    f"whole epoch ending at lsn={h}; boundary left "
                    "splitting it",
                    stacklevel=2,
                )
                result.append(cur)
                cur = nxt
        else:
            result.append(cur)
            cur = nxt
    result.append(cur)
    return result


def read_range(
    spark: SparkSession,
    log_dir: str,
    lo_exclusive: int,
    hi_inclusive: int,
    buckets: list[int] | None = None,
) -> DataFrame:
    df = read_log(spark, log_dir)
    if buckets is not None:
        # partition pruning: only the named lsn_bucket dirs are listed
        df = df.filter(F.col("lsn_bucket").isin([int(b) for b in buckets]))
    return df.filter(
        (F.col("lsn") > F.lit(lo_exclusive)) & (F.col("lsn") <= F.lit(hi_inclusive))
    )
