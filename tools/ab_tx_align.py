"""A/B EngineConfig.tx_align overhead on a no-straddler log: genlog's
native transactions never cross bucket boundaries, so alignment changes
NO boundary — the measured delta is the pure cost of the boundary-bucket
detection job(s) added to epoch planning.

Usage: python tools/ab_tx_align.py [n_events] [reps]
Defaults: 4_000_000 events / 4 epochs, 2 reps. Prints one JSON line per
(tx_align, rep) with wall seconds + health probes, then a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _canary_s, _membw_gbps
from plugin_debezium_spark.session import get_spark
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("ab_tx_align", cores=16)
    tmp = tempfile.mkdtemp(prefix="ab_txalign_")
    log = write_log(
        spark,
        f"{tmp}/log",
        LogSpec(
            n_events=n_events,
            n_keys=n_events // 10,
            n_snapshot=0,
            lsn_buckets=max(4, n_events // 1_000_000),
        ),
    )
    walls: dict[bool, list[float]] = {False: [], True: []}
    for rep in range(reps):
        for tx_align in (False, True):
            tbl = f"{tmp}/tbl_{tx_align}_{rep}"
            t0 = time.time()
            out = run(
                spark,
                EngineConfig(
                    log_dir=log,
                    table_dir=tbl,
                    max_events_per_batch=1_000_000,
                    tx_align=tx_align,
                ),
            )
            wall = time.time() - t0
            walls[tx_align].append(wall)
            print(
                json.dumps(
                    {
                        "tx_align": tx_align,
                        "rep": rep,
                        "wall_s": round(wall, 2),
                        "batches": out["batches_applied"],
                        "canary_s": round(_canary_s(), 3),
                        "membw_gbps": round(_membw_gbps(64), 2),
                    }
                ),
                flush=True,
            )
            shutil.rmtree(tbl, ignore_errors=True)
    print(
        json.dumps(
            {
                "best_off_s": round(min(walls[False]), 2),
                "best_on_s": round(min(walls[True]), 2),
                "overhead_s": round(min(walls[True]) - min(walls[False]), 2),
            }
        ),
        flush=True,
    )
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
