"""Last-writer-wins dedupe with skew defense (SURVEY.md §2.5 A2, §2.4 R1).

The reference gets LWW implicitly by applying events in log order on a
single thread; re-running applied offsets yields 0 records
(mysql/CaptureTest.java:97-99). Distributed, we make it explicit:
reduce each key ``(repo, path, commit)`` to its max-(lsn, ts_ms) event
*per micro-batch* before the MERGE.

Scale design — aggregation, not a window:
- ``groupBy(key).agg(max_by(event, (lsn, ts_ms)))`` gets map-side
  partial aggregation for free (each task reduces its local hot-key
  rows to ONE row before the shuffle), which a
  ``row_number() over (partition by key)`` window cannot do — a window
  must shuffle every duplicate row of a hot key to one task.
- The explicit two-phase salted variant covers the adversarial case
  where one *shuffle partition* still overflows (north rule: "salt hot
  repos"): phase 1 reduces (key, salt) groups, phase 2 reduces the ≤
  n_salts survivors per key. Identical result, bounded partition size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plugin_debezium_spark.models import KEY_COLS


def _order_struct():
    # total order: lsn is unique; ts_ms kept for parity with the
    # reference's (position, ts_ms) ordering semantics
    return F.struct(F.col("lsn"), F.col("ts_ms"))


def latest_by_key(
    df: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    n_salts: int = 0,
    extra_sums: dict[str, F.Column] | None = None,
) -> DataFrame:
    """One row per key: the event with max (lsn, ts_ms).

    n_salts=0 → single salted-free aggregate (map-side combine already
    defuses most skew). n_salts>0 → explicit two-phase salted reduce.

    extra_sums: {out_col: expr} summed over the RAW input rows of each
    key and carried on the winner row — how per-key consumed-event
    counters ride the dedupe shuffle instead of costing their own pass
    (sums re-aggregate exactly under the salted two-phase split).
    """
    others = [c for c in df.columns if c not in key_cols]
    payload = F.struct(*[F.col(c) for c in others]).alias("_ev")
    sums = extra_sums or {}
    keyed = df.select(
        *key_cols,
        payload,
        F.col("lsn"),
        F.col("ts_ms"),
        *[e.alias(f"_x_{n}") for n, e in sums.items()],
    )
    tail = [F.col(f"_x_{n}").alias(n) for n in sums]

    if n_salts <= 1:
        reduced = keyed.groupBy(*key_cols).agg(
            F.max_by("_ev", _order_struct()).alias("_ev"),
            *[F.sum(f"_x_{n}").alias(f"_x_{n}") for n in sums],
        )
    else:
        salted = keyed.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(n_salts))
        )
        phase1 = salted.groupBy(*key_cols, "_salt").agg(
            F.max_by("_ev", _order_struct()).alias("_ev"),
            F.max("lsn").alias("lsn"),
            F.max("ts_ms").alias("ts_ms"),
            *[F.sum(f"_x_{n}").alias(f"_x_{n}") for n in sums],
        )
        reduced = phase1.groupBy(*key_cols).agg(
            F.max_by("_ev", _order_struct()).alias("_ev"),
            *[F.sum(f"_x_{n}").alias(f"_x_{n}") for n in sums],
        )
    return reduced.select(*key_cols, "_ev.*", *tail)


def latest_by_key_twopass(
    df: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    order_col: str = "lsn",
) -> DataFrame:
    """Two-pass LWW dedupe — the engine's production formulation
    (streaming/engine.prepare_latest) as a standalone operator.

    Pass 1 shuffles ONLY (key, order) — ~24-byte rows instead of full
    payloads (~60× less shuffle at 1.5 KB/event); pass 2 semi-joins the
    winner order values back against the unshuffled input, so payloads
    never move. CONTRACT: ``order_col`` must be unique per event (the
    envelope log's lsn contract) — a duplicate could smuggle another
    key's loser through the semi-join. No explicit broadcast hint: a
    hint never falls back, so a large winner set would OOM the driver
    (the engine's own path gates on WINNER_BROADCAST_LIMIT after
    COUNTING winners — prepare_latest); here AQE converts the semi
    join to broadcast at runtime when the winner side turns out
    small."""
    winners = (
        df.select(*key_cols, order_col)
        .groupBy(*key_cols)
        .agg(F.max(order_col).alias(order_col))
        .select(order_col)
    )
    return df.join(winners, order_col, "left_semi")


def dedupe_window(
    df: DataFrame, key_cols: tuple[str, ...] = KEY_COLS
) -> DataFrame:
    """Window-function formulation (kept for parity with the north
    rule's wording and as an oracle for the aggregate path — prefer
    latest_by_key in production plans)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.desc("lsn"), F.desc("ts_ms")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
