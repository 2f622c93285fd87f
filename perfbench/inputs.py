"""Benchmark inputs: seed-independent base logs from ``sources.genlog``,
re-keyed per seed, plus what each workload derives from them.

Layout under ``<work>/inputs/<VERSION>``:

    base/<name>/            genlog output (Spark); built once per
                            checkout by ``python3 perfbench/inputs.py
                            base <work>``
    <workload>-s<seed>/     the seeded log, meta.json (sizes, lookup
                            keys) and, for bootstrap-incremental, the
                            source-state dumps

The seed rewrites every key's 40-hex ``commit`` to
``sha256(seed || commit)[:40]`` in ``key``, ``before_json``,
``after_json`` and the content body. That moves bucket placement and
every content hash, while the op mix, key skew and schema-evolution
cutovers stay those of the base log. Nothing here is timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

# genlog.LogSpec arguments. Content is ~1.5 KB per event
# (content_repeat=48); 10% of the log is the op='r' snapshot prefix, 2
# hot repos take ~30% of stream events, and the v2/v3/v4 schema
# evolution happens at 60% and 80% of the log.
REPLAY = dict(n_events=100_000, n_keys=10_000, n_snapshot=10_000,
              content_repeat=48, lsn_buckets=8)
# warm-up log: one small epoch through the same code paths
WARM = dict(n_events=1_000, n_keys=200, n_snapshot=100, content_repeat=48,
            lsn_buckets=2)
SHAPES = {"replay": REPLAY, "warm": WARM}
# bootstrap-incremental: the source-state dump is taken at 25% of the
# log and split into 3 files, so it applies as 3 chunks
DUMP_AT = 0.25
DUMP_FILES = 3
LOOKUPS_PER_KIND = 1
# the cache is keyed by everything above and by FORMAT, which is raised
# whenever the way the inputs are derived changes, so changed inputs
# never reuse a stale cache
FORMAT = 2
VERSION = hashlib.sha256(json.dumps(
    [FORMAT, SHAPES, DUMP_AT, DUMP_FILES, LOOKUPS_PER_KIND], sort_keys=True).encode()).hexdigest()[:10]


def base_dir(work: str, name: str) -> str:
    return os.path.join(work, "inputs", VERSION, "base", name)


def _missing_bases(work: str) -> list[str]:
    return [n for n in SHAPES
            if not os.path.exists(os.path.join(base_dir(work, n), "_SUCCESS"))]


def bases_ready(work: str) -> bool:
    return not _missing_bases(work)


def build_bases(work: str) -> None:
    """Generate every missing base log with genlog (one Spark session,
    in its own process so the measured process starts clean)."""
    missing = _missing_bases(work)
    if not missing:
        return
    from plugin_debezium_spark.session import get_spark
    from plugin_debezium_spark.sources.genlog import LogSpec, write_log

    spark = get_spark("perfbench-inputs", cores=len(os.sched_getaffinity(0)))
    try:
        for name in missing:
            out = base_dir(work, name)
            shutil.rmtree(out, ignore_errors=True)
            write_log(spark, out, LogSpec(**SHAPES[name]))
    finally:
        spark.stop()


def _log_glob(log_dir: str) -> str:
    return os.path.join(log_dir, "**", "*.parquet")


def seed_log(con, src: str, dst: str, seed: int) -> None:
    """Copy a genlog dataset with every commit re-keyed by seed; one
    lsn-sorted file per lsn_bucket, as genlog writes it."""
    con.execute(f"""
    COPY (SELECT lsn, ts_ms, op,
                 struct_pack(repo := key.repo, path := key.path, "commit" := c) AS key,
                 replace(before_json, key."commit", c) AS before_json,
                 replace(after_json, key."commit", c) AS after_json,
                 source, transaction, epoch_hint, lsn_bucket
          FROM (SELECT *, substr(sha256('{seed}' || key."commit"), 1, 40) AS c
                FROM read_parquet('{_log_glob(src)}', hive_partitioning=true))
          ORDER BY lsn)
    TO '{dst}' (FORMAT parquet, PARTITION_BY (lsn_bucket))""")


def _latest(log_dir: str, upto: int | None = None) -> str:
    """SQL: each key's last event (by lsn) in the raw log."""
    where = "" if upto is None else f"WHERE lsn <= {upto}"
    return f"""
    SELECT key.repo AS repo, key.path AS path, key."commit" AS commit, op, lsn, after_json
    FROM read_parquet('{_log_glob(log_dir)}', hive_partitioning=true) {where}
    QUALIFY row_number() OVER (PARTITION BY key.repo, key.path, key."commit"
                               ORDER BY lsn DESC) = 1"""


def oracle_sql(log_dir: str) -> str:
    """DuckDB last-writer-wins over the raw log: the live rows the final
    table must hold, on (repo, path, commit, sha256(content))."""
    return f"""
    SELECT repo, path, commit, sha256(after_json->>'$.content') AS h
    FROM ({_latest(log_dir)}) WHERE op <> 'd'"""


def _lookup_keys(con, log_dir: str, seed: int) -> list[dict]:
    """Seeded sample of keys: live, deleted (last op 'd') and live keys
    of the two hot repos, with the content hash the table must return
    (None for deleted)."""
    rows = con.execute(f"""
    WITH k AS (SELECT *, CASE WHEN op = 'd' THEN 'deleted'
                              WHEN repo LIKE '%/hot' THEN 'hot' ELSE 'live' END AS kind
               FROM ({_latest(log_dir)}))
    SELECT kind, repo, path, commit,
           CASE WHEN op = 'd' THEN NULL ELSE sha256(after_json->>'$.content') END
    FROM k
    QUALIFY row_number() OVER (PARTITION BY kind
                               ORDER BY hash(repo || path || commit || '{seed}')) <= {LOOKUPS_PER_KIND}
    ORDER BY kind, repo, path""").fetchall()
    kinds = {r[0] for r in rows}
    if kinds != {"live", "deleted", "hot"}:
        raise RuntimeError(f"lookup key sample is missing a kind: {sorted(kinds)}")
    return [dict(kind=k, repo=r, path=p, commit=c, sha=h) for k, r, p, c, h in rows]


def _dump(con, log_dir: str, source_lsn: int, out: str, files: int) -> dict:
    """Source-state dump at position S: one row per key live at S with
    its last-modified position, split into ``files`` files (keys never
    span files). Returns the engine's INCREMENTAL settings for it."""
    os.makedirs(out)
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE dump AS
    SELECT repo, path, commit, after_json->>'$.lang' AS lang,
           after_json->>'$.content' AS content, lsn AS src_lsn,
           row_number() OVER (ORDER BY lsn) % {files} AS part
    FROM ({_latest(log_dir, source_lsn)}) WHERE op <> 'd'""")
    for p in range(files):
        con.execute(
            f"COPY (SELECT * EXCLUDE (part) FROM dump WHERE part = {p} ORDER BY src_lsn) "
            f"TO '{os.path.join(out, f'part-{p}.parquet')}' (FORMAT parquet)")
    rows = con.execute("SELECT count(*) FROM dump").fetchone()[0]
    # the files differ by at most one row, so the smallest holds
    # rows // files and every file closes a chunk of its own
    return dict(dir=out, source_lsn=source_lsn, rows=rows, files=files,
                chunk_rows=rows // files)


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def prepare(work: str, workload: str, seed: int) -> str:
    """Seeded inputs for one (workload, seed), cached; returns the path
    of their meta.json (paths, event counts, lookup keys)."""
    import duckdb

    d = os.path.join(work, "inputs", VERSION, f"{workload}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        return meta_path
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    log = os.path.join(d, "log")
    n = REPLAY["n_events"]
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        seed_log(con, base_dir(work, "replay"), log, seed)
        meta = dict(workload=workload, seed=seed, log=log, warm=base_dir(work, "warm"),
                    events=n, last_lsn=n - 1, log_mb=disk_bytes(log) / 1e6,
                    keys=_lookup_keys(con, log, seed))
        if workload == "bootstrap-incremental":
            s = int(n * DUMP_AT) - 1
            dump = _dump(con, log, s, os.path.join(d, "dump"), DUMP_FILES)
            meta.update(
                dump=dump, events=n - 1 - s,
                log_mb=meta["log_mb"] * (1 - DUMP_AT) + disk_bytes(dump["dir"]) / 1e6,
                warm_dump=_dump(con, meta["warm"], int(WARM["n_events"] * DUMP_AT) - 1,
                                os.path.join(d, "warm-dump"), 1))
    finally:
        con.close()
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta_path


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "base":
        sys.exit("usage: python3 perfbench/inputs.py base <work dir>")
    build_bases(sys.argv[2])
