"""One measured process: start Spark, warm up, then run timed rounds of
one workload until the time budget is spent, checking every round
against the DuckDB oracle. Writes the raw samples as JSON.

Started by ``perfbench/run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import inputs

REPLAY_EPOCH = 50_000
KEEP_SNAPSHOTS = 2
SCANS = 7
LOOKUP_PASSES = 2
CHECKSUM = ("count(*) AS n", "bit_xor(h) AS x", "sum(pmod(h, 1000000007)) AS s")


class Bench:
    """Timed operations on one workload, with their samples and the
    count of operations attempted and failed. An operation is an epoch,
    chunk, scan, lookup, compaction or check; an exception or a wrong
    result fails it, is recorded, and does not stop the run."""

    def __init__(self, spark, meta: dict, work: str, tracer=None):
        self.spark = spark
        self.meta = meta
        self.work = work
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, k: str, v: float) -> None:
        self.samples.setdefault(k, []).append(v)

    @contextmanager
    def op(self, what: str):
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")

    def span(self, name: str):
        if self.tracer is None or not self.tracer.recording:
            return nullcontext({})
        return self.tracer.span(name)

    @contextmanager
    def untimed(self):
        """Checks run with tracing paused: they are not timed work."""
        was = self.tracer.recording if self.tracer else False
        if self.tracer:
            self.tracer.recording = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.recording = was

    # -- engine entry points -------------------------------------------------

    def config(self, workload: str, log: str, table: str, dump: dict | None):
        from plugin_debezium_spark.streaming.engine import EngineConfig

        if workload == "replay-cow":
            return EngineConfig(log_dir=log, table_dir=table,
                                max_events_per_batch=REPLAY_EPOCH)
        return EngineConfig(
            log_dir=log, table_dir=table, max_events_per_batch=REPLAY_EPOCH,
            snapshot_mode="INCREMENTAL", incremental_source_dir=dump["dir"],
            incremental_source_lsn=dump["source_lsn"], incremental_lsn_col="src_lsn",
            incremental_chunk_rows=dump["chunk_rows"])

    def scan(self, table, name: str) -> tuple | None:
        """Full read folded to an order-independent checksum over every
        column (``count()`` alone would prune the columns away).
        ``LakeTable.read`` is lazy, so its span encloses the collect."""
        from pyspark.sql import functions as F

        out = None
        with self.op(name), self.span(name), self.span("lake.read") as rec:
            t0 = time.perf_counter()
            rec["files"] = len(table.current().files)
            df = table.read()
            df = df.select(F.xxhash64(*df.columns).alias("h"))
            out = tuple(df.selectExpr(*CHECKSUM).collect()[0])
            self.add(name, time.perf_counter() - t0)
        return out

    def lookups(self, table) -> None:
        for k in self.meta["keys"]:
            with self.op(f"lookup {k['kind']}"):
                with self.span("op.lookup"), self.span("lake.lookup"):
                    t0 = time.perf_counter()
                    rows = table.lookup(repo=k["repo"], path=k["path"], commit=k["commit"]
                                        ).select("content_sha256").collect()
                    self.add("lookup", time.perf_counter() - t0)
                got = [r[0] for r in rows]
                want = [] if k["sha"] is None else [k["sha"]]
                if got != want:
                    raise AssertionError(f"{k['kind']} key {k['path']}: {got} != {want}")

    def compact(self, table, purge_below: int | None) -> None:
        from plugin_debezium_spark.plans import compact as maint

        with self.op("compact"), self.span("op.compact"):
            t0 = time.perf_counter()
            maint.compact(table, min_files_per_bucket=2,
                          expire_tombstones_below_lsn=purge_below)
            maint.expire_snapshots(table, keep_last=KEEP_SNAPSHOTS)
            self.add("compact", time.perf_counter() - t0)

    def oracle(self, table, what: str) -> None:
        import duckdb

        with self.untimed(), self.op(f"oracle {what}"):
            got = table.read().select("repo", "path", "commit", "content_sha256").toArrow()
            con = duckdb.connect()
            try:
                con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
                con.register("got", got)
                con.execute(f"CREATE TEMP TABLE want AS {inputs.oracle_sql(self.meta['log'])}")
                extra, missing, n = con.execute("""
                    SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
                           (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
                           (SELECT count(*) FROM want)""").fetchone()
            finally:
                con.close()
            if extra or missing or n == 0:
                raise AssertionError(f"{extra} extra and {missing} missing of {n} rows")

    # -- rounds --------------------------------------------------------------

    def one_round(self, workload: str, i: int) -> bool:
        """One timed round on a fresh table; False when ``run()`` failed."""
        from plugin_debezium_spark.plans.lake import LakeTable
        from plugin_debezium_spark.streaming import engine

        d = os.path.join(self.work, f"round{i}")
        shutil.rmtree(d, ignore_errors=True)
        cfg = self.config(workload, self.meta["log"], os.path.join(d, "table"),
                          self.meta.get("dump"))
        out = None
        # a run counts one operation per epoch and chunk it applied; a
        # run that raised counts as one failed operation
        with self.op("run"), self.span("op.run"):
            t0 = time.perf_counter()
            out = engine.run(self.spark, cfg)
            wall = time.perf_counter() - t0
            consumed = self.meta["events"] + self.meta.get("dump", {}).get("rows", 0)
            self.add("events_per_s", consumed / wall)
        if out is None:
            return False
        self.attempted += out["batches_applied"] + out.get("chunks_applied", 0) - 1
        with self.op("run reached the log end"):
            if out["last_lsn"] != self.meta["last_lsn"]:
                raise AssertionError(f"last_lsn {out['last_lsn']} != {self.meta['last_lsn']}")
        if "dump" in self.meta:
            with self.op("run applied one chunk per dump file"):
                if out["chunks_applied"] != self.meta["dump"]["files"]:
                    raise AssertionError(f"{out['chunks_applied']} chunks applied, "
                                         f"{self.meta['dump']['files']} dump files")
        table = LakeTable(self.spark, cfg.table_dir)
        # scans and lookups are short, so each is repeated and reported
        # as a median
        before = [self.scan(table, "op.scan") for _ in range(SCANS)]
        for _ in range(LOOKUP_PASSES):
            self.lookups(table)
        self.oracle(table, "after apply")
        # each table's own maintenance: COW buckets hold two files after
        # a merge, so compaction folds them; once the INCREMENTAL
        # bootstrap is complete no stale insert can arrive, so compaction
        # also drops the lww_guard tombstones
        purge = out["last_lsn"] + 1 if workload == "bootstrap-incremental" else None
        self.compact(table, purge)
        after = self.scan(table, "op.scan_compacted")
        with self.op("checksum the same on every scan and after compaction"):
            if len(set(before + [after])) != 1:
                raise AssertionError(f"{before} then {after}")
        with self.untimed(), self.op("exactly-once re-run"):
            again = engine.run(self.spark, cfg)
            if again["batches_applied"] or again.get("chunks_applied"):
                raise AssertionError(f"re-run applied {again['batches_applied']} batches, "
                                     f"{again.get('chunks_applied')} chunks")
        self.add("table_mb", inputs.disk_bytes(cfg.table_dir) / 1e6)
        return True

    def warm(self, workload: str) -> None:
        """Untimed warm-up: one apply of the workload's kind on a tiny
        log. Scans and lookups are repeated in the round, so their first,
        colder call does not set the median."""
        from plugin_debezium_spark.streaming import engine

        d = os.path.join(self.work, "warm")
        shutil.rmtree(d, ignore_errors=True)
        engine.run(self.spark, self.config(workload, self.meta["warm"], os.path.join(d, "table"),
                                           self.meta.get("warm_dump")))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def measure(spark, a, meta: dict) -> dict:
    """Warm up, run the timed rounds, and return the raw record."""
    session_s = time.time() - a.spawned
    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer(spark, f"{a.workload}-{os.getpid()}")
        tracer.install()
    b = Bench(spark, meta, a.work, tracer)
    b.warm(a.workload)
    setup_s = time.time() - a.spawned

    if tracer:
        tracer.recording = True
    t0 = time.perf_counter()
    rounds = 0
    while rounds == 0 or time.perf_counter() - t0 < a.seconds:
        rounds += 1
        if not b.one_round(a.workload, rounds - 1):
            break  # a failed apply is reported, not retried
    measured_s = time.perf_counter() - t0
    if tracer:
        tracer.recording = False
        tracer.dump(os.path.join(a.work, "spans.jsonl"))
    # spark-submit execs the JVM, so the gateway's child is the JVM
    # itself; it is still alive here, so RUSAGE_CHILDREN would miss it
    return dict(samples=b.samples, attempted=b.attempted, failed=b.failed, errors=b.errors,
                rounds=rounds, measured_s=measured_s, session_s=session_s, setup_s=setup_s,
                jvm_hwm_mb=_vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
                py_maxrss_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                spans=tracer.spans if tracer else None)


def main() -> None:
    # a SIGTERM from run.py unwinds through the finally that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--meta", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.meta) as f:
        meta = json.load(f)
    events = os.path.join(a.work, "eventlog")
    os.makedirs(events)
    conf = {"spark.local.dir": os.path.join(a.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if a.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    from plugin_debezium_spark.session import get_spark

    spark = get_spark(f"perfbench-{a.workload}", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    gateway = spark.sparkContext._gateway
    try:
        res = measure(spark, a, meta)
    finally:
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # the JVM exits once its stdin closes; wait for it either way
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
    spans = res.pop("spans")
    if spans is not None:
        from tracing import fold, spark_metrics

        # the event log is complete only once the context has stopped
        res["layers"] = fold(spans, spark_metrics(events), meta["log_mb"] * res["rounds"])
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
