"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB, compare
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v) -> str:
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, decimal.Decimal):
        # the driver's hash distinguishes DuckDB HUGEINT/DECIMAL from
        # Spark BIGINT — mirror that so local green predicts driver
        # green (oracles must CAST sums to BIGINT, not rely on this)
        return f"decimal:{v}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from plugin_debezium_spark.session import get_spark

    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        # a misspelt name would otherwise check nothing and pass
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("check_oracles", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t1 = time.time()
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):7d} (no oracle) {t1-t0:5.1f}s")
            continue
        rel = con.sql(oracles[name])
        # Round-5 lesson: duckdb-python converts HUGEINT to plain int
        # before norm_cell ever sees it, so a value compare is BLIND to
        # the one divergence class the driver's hasher catches (un-cast
        # aggregate sums). Audit the relation's DECLARED types instead.
        bad_types = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, (str(t).upper() for t in rel.types))
            if "HUGEINT" in t or "DECIMAL" in t
        ]
        ocols = list(rel.columns)
        orows = rel.fetchall()
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        ok_hash = value_hash(scols, srows) == value_hash(ocols, orows)
        ok_types = not bad_types
        status = (
            "OK " if (ok_cols and ok_rows and ok_hash and ok_types) else "FAIL"
        )
        if status == "FAIL":
            failures += 1
        print(
            f"{name:28s} {status} rows={len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'=' if ok_hash else '!'} {t1-t0:5.1f}s"
        )
        if bad_types:
            print(f"   driver-divergent oracle types: {bad_types}")
        if not ok_hash and ok_rows and ok_cols:
            # show a sample diff
            sset = {
                tuple(norm_cell(x) for x in r) for r in srows
            }
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {tuple(r[i] for i in order) for r in ((tuple(norm_cell(x) for x in row)) for row in srows)}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            oset = {tuple(tuple(norm_cell(x) for x in row)[i] for i in oorder) for row in orows}
            print("   only-spark:", list(sset - oset)[:2])
            print("   only-duck :", list(oset - sset)[:2])
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
