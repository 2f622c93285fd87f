"""spark-submit entry point: replay an envelope log into a lake table.

    spark-submit --py-files plugin_debezium_spark.zip jobs/replay.py \
        --log-dir /data/wal --table-dir /lake/repofiles \
        --max-events-per-batch 50000000 --n-buckets 4096

The same script runs unchanged at any cluster size (north rule: same
job at N and 4N executors) — parallelism comes entirely from the
cluster the submitter provides. Build the zip with:

    cd /root/repo && zip -qr plugin_debezium_spark.zip plugin_debezium_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python jobs/replay.py` runs: the package lives one level up
# (spark-submit users get it from --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--log-dir", required=True)
    p.add_argument("--table-dir", required=True)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--max-events-per-batch", type=int, default=5_000_000)
    p.add_argument("--max-batches", type=int, default=None)
    p.add_argument("--max-duration-s", type=float, default=None)
    p.add_argument("--max-records", type=int, default=None,
                   help="stop after N change events (ignored during snapshot)")
    p.add_argument("--max-wait-s", type=float, default=None,
                   help="tail-follow idle timeout after draining")
    p.add_argument("--max-snapshot-duration-s", type=float, default=None)
    p.add_argument("--snapshot-mode", default="INITIAL",
                   choices=["INITIAL", "INITIAL_ONLY", "NEVER", "ALWAYS"])
    p.add_argument("--merge-mode", default="cow", choices=["cow", "mor"],
                   help="mor = append-only delta epochs + periodic compaction")
    p.add_argument("--lww-guard", action="store_true",
                   help="out-of-order-safe merge (LWW reduce + tombstones)")
    p.add_argument("--truncate-policy", default="apply",
                   choices=["apply", "drop"])
    p.add_argument("--decode-mode", default="variant",
                   choices=["variant", "native", "arrow"])
    p.add_argument("--sha-mode", default="native", choices=["native", "arrow"])
    p.add_argument("--n-salts", type=int, default=0)
    p.add_argument("--db-include", default=None)
    p.add_argument("--db-exclude", default=None)
    p.add_argument("--table-include", default=None)
    p.add_argument("--table-exclude", default=None)
    p.add_argument("--streaming", action="store_true",
                   help="drain via Structured Streaming availableNow")
    p.add_argument("--checkpoint-dir", default=None,
                   help="streaming checkpoint location (with --streaming)")
    p.add_argument("--stream-merge-mode", default="mor",
                   choices=["mor", "cow"],
                   help="streaming applier strategy: mor = O(batch) "
                        "delta appends + cadence compaction (default); "
                        "cow = per-batch lww rewrite (read-optimized)")
    p.add_argument("--compact-every", type=int, default=64,
                   help="maintenance cadence in micro-batches: folds MOR "
                        "deltas and runs snapshot expiry (0 = no cadence "
                        "maintenance at all)")
    p.add_argument("--expire-keep-last", type=int, default=8,
                   help="snapshots retained at each maintenance cadence, "
                        "any merge mode (0 = never expire; inert when "
                        "--compact-every is 0)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from plugin_debezium_spark.streaming.engine import EngineConfig, run

    # on a cluster, master/executors come from spark-submit; locally
    # fall back to the tuned builder
    spark = SparkSession.getActiveSession()
    if spark is None:
        from plugin_debezium_spark.session import get_spark

        spark = get_spark("cdc-replay")

    cfg = EngineConfig(
        log_dir=args.log_dir,
        table_dir=args.table_dir,
        n_buckets=args.n_buckets,
        max_events_per_batch=args.max_events_per_batch,
        max_batches=args.max_batches,
        max_duration_s=args.max_duration_s,
        max_records=args.max_records,
        max_wait_s=args.max_wait_s,
        max_snapshot_duration_s=args.max_snapshot_duration_s,
        snapshot_mode=args.snapshot_mode,
        merge_mode=args.merge_mode,
        lww_guard=args.lww_guard,
        truncate_policy=args.truncate_policy,
        decode_mode=args.decode_mode,
        sha_mode=args.sha_mode,
        n_salts=args.n_salts,
        db_include=args.db_include,
        db_exclude=args.db_exclude,
        table_include=args.table_include,
        table_exclude=args.table_exclude,
    )
    if args.streaming:
        from plugin_debezium_spark.streaming.realtime import run_available_now

        ckpt = args.checkpoint_dir or args.table_dir + "/_stream_checkpoint"
        run_available_now(
            spark,
            cfg,
            ckpt,
            merge_mode=args.stream_merge_mode,
            compact_every=args.compact_every or None,
            expire_keep_last=args.expire_keep_last or None,
        )
        print(json.dumps({"mode": "streaming", "table": args.table_dir}))
    else:
        out = run(spark, cfg)
        print(json.dumps({k: out[k] for k in ("batches_applied", "last_lsn", "wall_s")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
