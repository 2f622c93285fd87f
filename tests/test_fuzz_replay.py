"""Differential fuzz: replay several structurally different logs
(skew extremes, delete-heavy, early evolution) with different engine
configs and random-ish restart points, comparing every final state
against an independent DuckDB LWW oracle (no shared code with the
engine or the pandas golden applier)."""

import glob

import duckdb
import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.streaming.engine import EngineConfig, run

CONFIGS = [
    # (spec, engine overrides)
    (
        LogSpec(n_events=8_000, n_keys=100, n_snapshot=100, hot_pct=90,
                n_hot_keys=4, epoch_size=2_000),
        {"n_salts": 8},  # brutal skew through the salted path
    ),
    (
        LogSpec(n_events=8_000, n_keys=4_000, n_snapshot=2_000,
                evolve_at=0.1, widen_at=0.2, epoch_size=2_000),
        {},  # early evolution through the default (Variant) path
    ),
    (
        LogSpec(n_events=8_000, n_keys=500, n_snapshot=0, hot_pct=0,
                epoch_size=2_000, lsn_buckets=16),
        {"max_batches": 2, "_resume": True},  # no snapshot, restart mid-way
    ),
]


def _duckdb_final(log_dir: str) -> set:
    con = duckdb.connect()
    files = f"{log_dir}/**/*.parquet"
    return {
        tuple(r)
        for r in con.execute(
            f"""
WITH log AS (SELECT * FROM read_parquet('{files}', hive_partitioning=true)),
latest AS (
  SELECT key.repo AS r, key.path AS p, key."commit" AS c, op, after_json,
         row_number() OVER (
           PARTITION BY key.repo, key.path, key."commit"
           ORDER BY lsn DESC) AS rn
  FROM log)
SELECT r, p, c, sha256(after_json->>'$.content')
FROM latest WHERE rn = 1 AND op <> 'd'
"""
        ).fetchall()
    }


@pytest.mark.parametrize("i", range(len(CONFIGS)))
def test_fuzz_config(spark, tmp_path, i):
    spec, overrides = CONFIGS[i]
    overrides = dict(overrides)
    resume = overrides.pop("_resume", False)
    log = write_log(spark, str(tmp_path / "log"), spec)
    cfg = EngineConfig(
        log_dir=log,
        table_dir=str(tmp_path / "tbl"),
        max_events_per_batch=spec.epoch_size,
        **overrides,
    )
    run(spark, cfg)
    if resume:
        # finish the interrupted replay from the checkpoint
        run(spark, EngineConfig(**{**cfg.__dict__, "max_batches": None}))
    got = {
        tuple(r)
        for r in LakeTable(spark, cfg.table_dir)
        .read()
        .select("repo", "path", "commit", "content_sha256")
        .collect()
    }
    assert got == _duckdb_final(log)