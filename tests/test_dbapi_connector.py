"""Engine-generic trigger-audit capture (sources/dbapi_connector.py):
the protocol proven live against SQLite must not be SQLite-shaped.
A deliberately quirky second dialect (different audit table name,
bracket quoting, different now-ms expression) drives the same
machinery end to end; misconfiguration fails loudly; offset loss never
re-snapshots (ADVICE r5).
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from plugin_debezium_spark.plans.lake import LakeTable
from plugin_debezium_spark.sources.dbapi_connector import (
    DIALECTS,
    DbApiSource,
    MongoDialect,
    SqliteDialect,
    _log_offset,
    _offset_path,
    capture_to_log,
    install_cdc,
)
from plugin_debezium_spark.streaming.engine import EngineConfig, run


class QuirkyDialect(SqliteDialect):
    """Same engine underneath, but every overridable surface differs:
    proves install/capture build ALL their SQL through the hooks."""

    name = "quirky"
    audit_table = "audit_changes_q"

    def quote(self, ident: str) -> str:
        return f"[{ident}]"  # sqlite accepts bracket quoting

    def now_ms_expr(self) -> str:
        # same value, structurally different expression
        return "CAST(strftime('%s','now') || '000' AS INTEGER)"


def _mk_db(path: str, n: int = 120) -> None:
    con = sqlite3.connect(path)
    con.execute(
        """CREATE TABLE repofiles (
           repo TEXT, path TEXT, "commit" TEXT, lang TEXT, content TEXT,
           PRIMARY KEY (repo, path, "commit"))"""
    )
    con.executemany(
        "INSERT INTO repofiles VALUES (?,?,?,?,?)",
        [
            (f"r{i % 5}", f"src/f{i}.py", f"c{i}", "py", f"body {i}")
            for i in range(n)
        ],
    )
    con.commit()
    con.close()


def _db_state(path: str) -> set[tuple]:
    con = sqlite3.connect(path)
    rows = set(
        tuple(r)
        for r in con.execute(
            'SELECT repo, path, "commit", lang, content FROM repofiles'
        )
    )
    con.close()
    return rows


def _table_state(spark, table_dir: str) -> set[tuple]:
    return set(
        tuple(r)
        for r in LakeTable(spark, table_dir)
        .read()
        .select("repo", "path", "commit", "lang", "content")
        .collect()
    )


def _src(db: str, dialect=None) -> DbApiSource:
    return DbApiSource(dialect=dialect or QuirkyDialect(), dsn=db)


def test_quirky_dialect_end_to_end(spark, tmp_path):
    db = str(tmp_path / "q.db")
    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    _mk_db(db)
    src = _src(db)
    install_cdc(src)

    # the quirky audit table (not the sqlite default) is what got made
    con = sqlite3.connect(db)
    names = {
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type IN ('table','trigger')"
        )
    }
    assert "audit_changes_q" in names and "_cdc_audit" not in names

    s1 = capture_to_log(spark, src, log, bucket_size=500)
    assert s1["snapshot_rows"] == 120 and s1["change_rows"] == 0

    con.execute("UPDATE repofiles SET content = 'v2' WHERE repo = 'r1'")
    con.execute("DELETE FROM repofiles WHERE repo = 'r2'")
    con.execute(
        "INSERT INTO repofiles VALUES ('rn', 'new/a.py', 'cn', 'py', 'new')"
    )
    con.commit()
    con.close()

    s2 = capture_to_log(spark, src, log, bucket_size=500)
    assert s2["snapshot_rows"] == 0 and s2["change_rows"] > 0

    cfg = EngineConfig(log_dir=log, table_dir=tbl, max_events_per_batch=500)
    run(spark, cfg)
    assert _table_state(spark, tbl) == _db_state(db)

    # provenance carries the dialect name, not 'sqlite'
    env = spark.read.parquet(log).select("source.connector").distinct()
    assert [r[0] for r in env.collect()] == ["quirky"]


def test_key_cols_arity_fails_loudly(tmp_path):
    db = str(tmp_path / "k.db")
    _mk_db(db, n=1)
    src = DbApiSource(
        dialect=QuirkyDialect(), dsn=db, key_cols=("repo", "path")
    )
    with pytest.raises(ValueError, match="arity"):
        install_cdc(src)


def test_offset_loss_snapshot_only_refuses_resnapshot(spark, tmp_path):
    """A log holding only op='r' rows with no offset file: the snapshot
    high-water mark is unrecoverable, so capture must raise rather than
    re-snapshot (duplicate lsns with divergent content)."""
    db = str(tmp_path / "s.db")
    log = str(tmp_path / "log")
    _mk_db(db, n=30)
    src = _src(db)
    install_cdc(src)
    capture_to_log(spark, src, log, bucket_size=500)
    os.remove(_offset_path(log))
    with pytest.raises(RuntimeError, match="Refusing to re-snapshot"):
        capture_to_log(spark, src, log, bucket_size=500)


def test_unreadable_log_is_not_fresh(spark, tmp_path):
    """A log dir with a written partition that cannot be read must
    raise, not report a fresh (0, -1) offset — a fresh capture would
    re-snapshot from LSN 0 into it. Only a dir with no partition is
    fresh."""
    assert _log_offset(spark, str(tmp_path / "absent")) == (0, -1)
    log = tmp_path / "log"
    log.mkdir()
    assert _log_offset(spark, str(log)) == (0, -1)
    (log / "lsn_bucket=0").mkdir()
    (log / "lsn_bucket=0" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        _log_offset(spark, str(log))


def test_offset_loss_with_tail_resumes_tail_only(spark, tmp_path):
    """With change rows in the log, the derived offset resumes
    tail-only: no second snapshot, convergent final state."""
    db = str(tmp_path / "t.db")
    log = str(tmp_path / "log")
    tbl = str(tmp_path / "tbl")
    _mk_db(db, n=30)
    src = _src(db)
    install_cdc(src)
    capture_to_log(spark, src, log, bucket_size=500)
    con = sqlite3.connect(db)
    con.execute("UPDATE repofiles SET content = 'v2' WHERE repo = 'r0'")
    con.commit()
    con.close()
    capture_to_log(spark, src, log, bucket_size=500)
    os.remove(_offset_path(log))
    s = capture_to_log(spark, src, log, bucket_size=500)
    assert s["snapshot_rows"] == 0
    run(spark, EngineConfig(log_dir=log, table_dir=tbl, max_events_per_batch=500))
    assert _table_state(spark, tbl) == _db_state(db)


def test_provisional_offset_lands_before_tailing(spark, tmp_path, monkeypatch):
    """ADVICE r5 (medium): on a fresh snapshot run the offset is
    written TWICE — provisionally right after the snapshot rows are
    durable (before any tail read), then finally after the tail. A
    crash in between therefore resumes tail-only."""
    from plugin_debezium_spark.sources import dbapi_connector as mod

    db = str(tmp_path / "p.db")
    log = str(tmp_path / "log")
    _mk_db(db, n=25)
    src = _src(db)
    install_cdc(src)
    calls: list[tuple[int, int]] = []
    real = mod._write_offset

    def spy(log_dir, n_snap, last_audit):
        calls.append((n_snap, last_audit))
        real(log_dir, n_snap, last_audit)

    monkeypatch.setattr(mod, "_write_offset", spy)
    capture_to_log(spark, src, log, bucket_size=500)
    assert len(calls) == 2  # provisional + final
    assert calls[0] == calls[1] == (25, 0)  # no pre-snapshot changes


def test_server_dialects_generate_ddl_and_refuse_connect():
    """The five server dialects carry real DDL text but no live server:
    trigger_ddl renders, connect raises. Mongo raises from every hook
    (change-stream capture, not trigger-audit)."""
    for name in ("mysql", "postgres", "sqlserver", "oracle", "db2"):
        d = DIALECTS[name]
        stmts = d.trigger_ddl("t", ("repo", "path", "commit"), ("repo", "c"))
        assert stmts and any(d.audit_table in s for s in stmts)
        assert d.audit_table_ddl(3).startswith("CREATE TABLE")
        with pytest.raises(NotImplementedError, match="no live server"):
            d.connect("dsn://nope")
    with pytest.raises(NotImplementedError, match="change-stream"):
        MongoDialect().connect("mongodb://nope")


def test_capture_refuses_unordered_id_dialect(spark, tmp_path):
    """The capture protocol's hard requirement (Dialect docstring):
    audit ids must become visible in id order, or the snapshot hwm /
    id-ordered tail can silently skip late-committing rows. A dialect
    that does not declare commit_ordered_ids is refused up front."""

    class MvccishDialect(QuirkyDialect):
        name = "mvcc-ish"
        commit_ordered_ids = False

    db = str(tmp_path / "u.db")
    _mk_db(db)
    src = _src(db, dialect=MvccishDialect())
    with pytest.raises(NotImplementedError, match="id order"):
        capture_to_log(spark, src, str(tmp_path / "log"))
