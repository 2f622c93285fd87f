"""Benchmark of the CDC engine (plugin_debezium_spark), one workload per
invocation:

    python3 perfbench/run.py --workload replay-cow --seed 1 --seconds 5 --trace 0

Workloads (perfbench/DESIGN.md says why each exists):
  replay-cow             closed loop: bounded backfill through the pipelined
                         epoch loop and the ordered copy-on-write merge
  bootstrap-incremental  closed loop: INCREMENTAL bootstrap, source-dump chunks
                         interleaved with stream epochs, lww_guard merge

Run from the repository root. Inputs are generated off the clock and
cached per (workload, seed) under ``.bench_work/``. The measured work
runs in a fresh process (``perfbench/worker.py``) so that ``setup_s``
counts process start, session start and the warm-up apply. The last
line of stdout is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). The line before it
is a JSON record of the run: host state, every sample and, for a
traced run, the whole per-layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("replay-cow", "bootstrap-incremental")
# a run must end within 180 s (the first one, which builds the base
# logs, within 900 s); children are stopped before that
RUN_DEADLINE_S = 140
GEN_TIMEOUT_S = 600

# metric names and units come from the benchmark's contract file
CONTRACT = os.path.join(ROOT, "BENCHMARK.json")


def _driver_mem() -> str:
    """Heap for the one local-mode JVM: a quarter of RAM, at most 4 GB
    (get_spark's default of max(16, cores) GB does not fit small hosts)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(SPARK_DRIVER_MEM=_driver_mem(), TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
               PYTHONDONTWRITEBYTECODE="1", PYTHONPATH=ROOT)
    env.pop("SPARK_MASTER", None)
    return env


def _run_child(cmd: list[str], timeout: float, **kw) -> None:
    """Run a child to completion. On a timeout or an interrupt the child
    gets SIGTERM (the worker then stops its JVM), SIGKILL if it is still
    running 30 s later, and is waited for."""
    with subprocess.Popen(cmd, cwd=ROOT, env=_env(), **kw) as p:
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            p.terminate()
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            raise
    if rc != 0:
        raise RuntimeError(f"{cmd[1]} exited with {rc}")


# -- host state ---------------------------------------------------------------


# one canary process: sha256 over 64 MB
_BURN = "import hashlib; h = hashlib.sha256(); b = bytes(1 << 20)\nfor _ in range(64): h.update(b)"


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_state(ticks: tuple[list[int], list[int]]) -> dict:
    """Recorded next to every run, never used to drop one: load
    average, a fresh-page write probe (GB/s) and a multi-process sha
    canary (s), as in bench.py, scaled to the cores available; and the
    share of CPU time the hypervisor stole while the worker ran, from
    the /proc/stat ticks taken around it."""
    cores = len(os.sched_getaffinity(0))
    path = os.path.join(WORK, f"membw-{os.getpid()}")
    blk = b"\x5a" * 1048576
    t0 = time.perf_counter()
    try:
        with open(path, "wb") as f:
            for _ in range(64):
                f.write(blk)
        bw = 64 / 1024 / (time.perf_counter() - t0)
    finally:
        os.remove(path)
    t0 = time.perf_counter()
    burns = [subprocess.Popen([sys.executable, "-c", _BURN]) for _ in range(cores)]
    if any(p.wait() for p in burns):
        raise RuntimeError("canary process failed")
    d = [b - a for a, b in zip(*ticks)]
    return dict(loadavg=os.getloadavg(), membw_gbps=bw,
                steal_share=d[7] / max(1, sum(d[:8])),
                canary_s=time.perf_counter() - t0, cores=cores)


# -- results ------------------------------------------------------------------


# end-to-end metric -> the worker's samples it is the median of
SAMPLES = {"events_per_s": "events_per_s", "read_scan_s": "op.scan", "lookup_p50_s": "lookup",
           "compact_s": "compact", "table_disk_mb": "table_mb"}


def end_to_end(res: dict, contract: dict) -> dict:
    """Every end-to-end metric that has samples. A failed operation
    leaves its metric without one; the result then says so through
    ``correct`` and ``failed`` instead of a made-up value."""
    s = res["samples"]
    v = {m: statistics.median(s[k]) for m, k in SAMPLES.items() if s.get(k)}
    v["setup_s"] = res["setup_s"]
    return {m["name"]: {"value": v[m["name"]], "unit": m["unit"]}
            for m in contract["end_to_end"] if m["name"] in v}


def trace_overhead(runs: str, traced: dict) -> dict:
    """Each end-to-end metric of a traced run against the median of the
    untraced runs of the same workload recorded in this checkout, as a
    ratio (1.0 = no overhead); empty when there are none yet."""
    if not os.path.exists(runs):
        return {}
    with open(runs) as f:
        prior = [r for r in map(json.loads, f)
                 if r["workload"] == traced["workload"] and not r["trace"] and not r["errors"]]
    if not prior:
        return {}
    return {k: v / statistics.median(r["end_to_end"][k] for r in prior)
            for k, v in traced["end_to_end"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "plugin_debezium_spark", "__init__.py")):
        print(f"perfbench: no plugin_debezium_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    import inputs

    os.makedirs(WORK, exist_ok=True)
    if not inputs.bases_ready(WORK):
        _run_child([sys.executable, os.path.join(HERE, "inputs.py"), "base", WORK],
                   GEN_TIMEOUT_S, stdout=subprocess.DEVNULL)
    started = time.time()
    meta = inputs.prepare(WORK, a.workload, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    before = cpu_ticks()
    spawned = time.time()
    _run_child([sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", a.workload, "--meta", meta, "--work", run_dir, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--spawned", repr(spawned), "--out", out],
               started + RUN_DEADLINE_S - time.time(), stdout=subprocess.DEVNULL)
    with open(out) as f:
        res = json.load(f)
    # probed after the worker has stopped, so the probes' load and dirty
    # pages do not land on its JVM start
    host = host_state((before, cpu_ticks()))
    with open(CONTRACT) as f:
        contract = json.load(f)
    metrics = end_to_end(res, contract)
    # peak memory is recorded but not a contract metric: the JVM's
    # high-water mark is bimodal, as G1 grows the heap in some runs
    # and not in others (perfbench/DESIGN.md)
    record = dict(workload=a.workload, seed=a.seed, trace=a.trace, host=host,
                  peak_rss_mb=res["jvm_hwm_mb"] + res["py_maxrss_mb"],
                  **{k: res[k] for k in ("rounds", "measured_s", "session_s", "jvm_hwm_mb",
                                         "py_maxrss_mb", "samples", "errors")},
                  end_to_end={k: m["value"] for k, m in metrics.items()})
    runs = os.path.join(WORK, "runs.jsonl")
    if a.trace:
        record["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
        record["trace_overhead"] = trace_overhead(runs, record)
        metrics = {m["name"]: record["layers"][m["name"]] for m in contract["per_layer"]
                   if m["name"] in record["layers"]}
    with open(runs, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    complete = len(metrics) == len(contract["per_layer" if a.trace else "end_to_end"])
    print(json.dumps({"correct": res["failed"] == 0 and complete, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
