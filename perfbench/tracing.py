"""Traced-run instrumentation, kept entirely in the benchmark.

``Tracer.install()`` swaps module attributes of the engine for wrappers
that record a span per call and call straight through (errors
re-raise). ``LakeTable.read`` and ``lookup`` return lazy DataFrames, so
their spans are opened by the benchmark around the call and the collect
that runs it. Each wrapper also sets the Spark job group of its thread to
the span's path (e.g. ``op.run/merge/lake.write``), so stage metrics
from the event log can be attributed to layers. ``fold()`` turns the
spans and the event log into the per-layer table.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

# spans that run in the engine's prefetch thread: their parent is the
# enclosing operation, not whatever the main thread has open
PREFETCHABLE = {"engine.prepare", "engine.stats"}
GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Spans kept in memory; ``recording`` is off during warm-up."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.recording = False
        self._lock = threading.Lock()
        self._stacks: dict[int, list[dict]] = {}
        self._main = threading.get_ident()

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.recording:
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from plugin_debezium_spark.plans import compact, lake, merge
        from plugin_debezium_spark.streaming import engine, incremental

        def written(rec, args, kwargs, out):
            rec["files"] = len(out)
            rec["bytes"] = sum(os.path.getsize(os.path.join(args[0].path, e["path"]))
                               for e in out)

        def prepared(rec, args, kwargs, out):
            rec["events"] = (args[3] if len(args) > 3 else kwargs.get("n_events")) or 0

        def agg(rec, args, kwargs, out):
            rec["winners"] = int(out["n"])

        def compacted(rec, args, kwargs, out):
            rec["files_before"] = out.get("files_before", 0)
            rec["files_after"] = out.get("files_after", 0)

        def expired(rec, args, kwargs, out):
            rec["files_deleted"] = out.get("data_files_deleted", 0)

        self._wrap(engine, "plan_epochs", "log_reader.plan")
        self._wrap(engine, "prepare_latest", "engine.prepare", prepared)
        self._wrap(engine, "_epoch_agg", "engine.stats", agg)
        self._wrap(engine, "_write_metrics", "engine.metrics")
        self._wrap(merge, "merge_prepared", "merge")
        self._wrap(incremental, "merge_prepared", "merge")
        self._wrap(incremental, "apply_chunk", "incremental.chunk")
        self._wrap(lake.LakeTable, "write_bucket_data", "lake.write", written)
        self._wrap(lake.LakeTable, "commit", "lake.commit")
        self._wrap(compact, "compact", "compact.compact", compacted)
        self._wrap(compact, "expire_snapshots", "compact.expire", expired)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> dict:
        t = self.t
        tid = threading.get_ident()
        with t._lock:
            own = t._stacks.setdefault(tid, [])
            main = t._stacks.get(t._main) or []
            if own:
                parent = own[-1]
            elif main:
                parent = main[0] if self.name in PREFETCHABLE else main[-1]
            else:
                parent = None
            self.rec = dict(
                id=len(t.spans), name=self.name, run=t.run_id, thread=tid,
                main=tid == t._main,
                parent=None if parent is None else parent["id"],
                path=self.name if parent is None else f"{parent['path']}/{self.name}",
                start=time.perf_counter(), end=None, error=None,
            )
            t.spans.append(self.rec)
            own.append(self.rec)
        sc = t.spark.sparkContext
        self.prev_group = sc.getLocalProperty(GROUP_PROP)
        sc.setLocalProperty(GROUP_PROP, self.rec["path"])
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        t = self.t
        self.rec["end"] = time.perf_counter()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        t.spark.sparkContext.setLocalProperty(GROUP_PROP, self.prev_group)
        with t._lock:
            t._stacks[threading.get_ident()].pop()
        return False


# -- fold ---------------------------------------------------------------------


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def _gaps(lo: float, hi: float, cover) -> list[tuple[float, float]]:
    """Parts of [lo, hi] not covered by ``cover``."""
    out, cur = [], lo
    for a, b in _union(_clip(cover, lo, hi)):
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < hi:
        out.append((cur, hi))
    return out


def spark_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per job group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def row(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(SPARK_FIELDS, 0))

    for name in os.listdir(event_log_dir):
        with open(os.path.join(event_log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP_PROP)
                    if g:
                        row(g)["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    r = row(g)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    r["tasks"] += 1
                    r["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_mb"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)
                                        + sw.get("Shuffle Bytes Written", 0)) / 1e6
                    r["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
    return out


# Spark rows per layer count every job whose group path passes through
# the layer, like the span the job ran under (inclusive).
SPARK_LAYERS = ("engine.prepare", "engine.stats", "merge", "lake.write",
                "lake.read", "lake.lookup", "compact.compact", "incremental.chunk")
SPARK_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")
_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s", "cpu_s": "s",
          "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}


def fold(spans: list[dict], groups: dict, log_mb: float) -> dict[str, tuple]:
    """Per-layer table ``{metric: (value, unit)}`` from one traced run.

    Operations (``op.*`` spans) are the benchmark's timed calls. Self
    time is a span's duration minus the union of its children (merge's
    two writes overlap each other). ``engine.prefetch_wait_s`` is
    main-thread time inside an operation that no main-thread layer span
    covers while a prefetch span runs: the main thread is waiting for
    the next epoch's winners. ``trace.coverage`` is the share of the
    timed wall covered by main-thread layer spans plus that wait."""
    done = [s for s in spans if s["end"] is not None]
    ids = {s["id"]: s for s in done}
    iv = lambda ss: [(s["start"], s["end"]) for s in ss]  # noqa: E731
    named = lambda n: [s for s in done if s["name"] == n]  # noqa: E731
    dur = lambda n: sum(s["end"] - s["start"] for s in named(n))  # noqa: E731
    total = lambda n, k: sum(s.get(k, 0) for s in named(n))  # noqa: E731

    ops = [s for s in done if s["name"].startswith("op.")]
    top = {}  # op id -> main-thread layer spans directly under it
    for s in done:
        p = ids.get(s["parent"])
        if s["main"] and p is not None and p["name"].startswith("op."):
            top.setdefault(p["id"], []).append(s)
    prefetch = iv(s for s in done if not s["main"] and s["name"] in PREFETCHABLE)
    wait = covered = 0.0
    for op in ops:
        mine = iv(top.get(op["id"], []))
        covered += _length(mine)
        for g in _gaps(op["start"], op["end"], mine):
            wait += _length(_clip(prefetch, *g))
    timed = sum(op["end"] - op["start"] for op in ops)

    merge_self = 0.0
    for m in named("merge"):
        kids = [s for s in done if s["parent"] == m["id"]]
        merge_self += (m["end"] - m["start"]) - _length(_clip(iv(kids), m["start"], m["end"]))
    mb_written = total("lake.write", "bytes") / 1e6
    events = total("engine.prepare", "events")
    t = {
        "log_reader.plan_s": (dur("log_reader.plan"), "s"),
        "log_reader.plan_calls": (len(named("log_reader.plan")), "count"),
        "engine.prepare_s": (dur("engine.prepare"), "s"),
        "engine.stats_s": (dur("engine.stats"), "s"),
        "engine.metrics_s": (dur("engine.metrics"), "s"),
        "engine.prefetch_wait_s": (wait, "s"),
        "engine.winner_ratio": (total("engine.stats", "winners") / events if events else 0.0,
                                "ratio"),
        "engine.epochs": (len(named("engine.stats")), "count"),
        "incremental.chunk_s": (dur("incremental.chunk"), "s"),
        "incremental.chunks": (len(named("incremental.chunk")), "count"),
        "merge.merge_s": (dur("merge"), "s"),
        "merge.self_s": (merge_self, "s"),
        "lake.write_s": (_length(iv(named("lake.write"))), "s"),
        "lake.files_written": (total("lake.write", "files"), "count"),
        "lake.mb_written": (mb_written, "MB"),
        "lake.write_amp": (mb_written / log_mb, "ratio"),
        "lake.commit_s": (dur("lake.commit"), "s"),
        "lake.commits": (len(named("lake.commit")), "count"),
        "lake.commit_conflicts": (sum(s["error"] == "ConcurrentCommitError"
                                      for s in named("lake.commit")), "count"),
        "lake.read_s": (dur("lake.read"), "s"),
        "lake.read_files": (total("lake.read", "files"), "count"),
        "lake.lookup_s": (dur("lake.lookup"), "s"),
        "compact.compact_s": (dur("compact.compact"), "s"),
        "compact.expire_s": (dur("compact.expire"), "s"),
        "compact.mb_rewritten": (sum(s.get("bytes", 0) for s in named("lake.write")
                                     if "compact.compact" in s["path"]) / 1e6, "MB"),
        "compact.files_before": (total("compact.compact", "files_before"), "count"),
        "compact.files_after": (total("compact.compact", "files_after"), "count"),
        "compact.files_deleted": (total("compact.expire", "files_deleted"), "count"),
        "trace.timed_wall_s": (timed, "s"),
        "trace.run_wall_s": (sum(op["end"] - op["start"] for op in named("op.run")), "s"),
        "trace.coverage": ((covered + wait) / timed if timed else 0.0, "ratio"),
    }
    for layer in SPARK_LAYERS:
        rows = [r for g, r in groups.items() if layer in g.split("/")]
        for f in SPARK_FIELDS:
            t[f"{layer}.{f}"] = (sum(r[f] for r in rows), _UNITS[f])
    return t
