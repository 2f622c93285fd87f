"""The driver queries built on the shared replay fixture and shaper
envelope, checked against their DuckDB oracles at sf0.01.

At sf0.01 (10k events, four 2,500-LSN log buckets) the replay queries
apply more than one epoch, which sf0.001 (one epoch) cannot show. The
comparison is the one tools/check_oracles.py makes: column names, row
count and the order-insensitive value hash.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tools.check_oracles import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.01"

NAMES = (
    "cdc_replay_final_state",
    "cdc_replay_mor",
    "cdc_replay_snapshot_never",
    "cdc_replay_snapshot_only",
    "cdc_replay_incremental",
    "cdc_replay_evolution",
    "cdc_replay_truncate",
    "cdc_replay_tx_aligned",
    "cdc_sqlite_live",
    "cdc_replay_diff",
    "cdc_inline_shape",
    "cdc_deleted_policy_shape",
    "cdc_wrap_key_shape",
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, con, name):
    from plugin_debezium_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(ORACLES[name])
    ocols = list(rel.columns)
    orows = rel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    assert value_hash(scols, srows) == value_hash(ocols, orows)
