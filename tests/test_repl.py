"""REPL surface (reference ClientBase.cpp:322-380): statement splitting,
rendering, and a pty-driven end-to-end session."""

from __future__ import annotations

import io
import os
import select
import sys

import pytest

sys.path.insert(0, "/root/repo")

from clickhouse_from_scratch_spark.repl import run_statement, split_statements


def test_split_statements_basic():
    stmts, rest = split_statements("SELECT 1; SELECT 2;\nSELECT ")
    assert stmts == ["SELECT 1", "SELECT 2"]
    assert rest.strip() == "SELECT"


def test_split_statements_semicolon_in_string():
    stmts, rest = split_statements("SELECT 'a;b' AS s;")
    assert stmts == ["SELECT 'a;b' AS s"] and rest.strip() == ""
    # unterminated string: not splittable yet — REPL keeps reading
    assert split_statements("SELECT 'open") is None


def test_split_statements_heredoc():
    stmts, _ = split_statements("SELECT $t$x;y$t$ AS s;")
    assert stmts == ["SELECT $t$x;y$t$ AS s"]


def test_run_statement_renders_pretty(spark, tmp_path):
    from clickhouse_from_scratch_spark.ddl import ChSession

    sess = ChSession(spark, warehouse=str(tmp_path / "wh"))
    out = io.StringIO()
    run_statement(sess, "SELECT 42 AS answer", out=out)
    text = out.getvalue()
    assert "┌─answer─┐" in text.replace("answer─", "answer─") and "42" in text
    assert "1 rows in set" in text
    out = io.StringIO()
    run_statement(sess, "SELECT broken syntax here FROM", out=out)
    assert out.getvalue().startswith("Error:")


def test_repl_pty_end_to_end(tmp_path):
    """Drive the real `python -m clickhouse_from_scratch_spark.repl`
    through a pty: DDL + INSERT + a multi-line SELECT + exit."""
    pty = pytest.importorskip("pty")
    import subprocess

    main, child = pty.openpty()
    proc = subprocess.Popen(
        [sys.executable, "-m", "clickhouse_from_scratch_spark.repl",
         "--warehouse", str(tmp_path / "wh")],
        stdin=child, stdout=child, stderr=subprocess.DEVNULL,
        cwd="/root/repo", env={**os.environ, "PYTHONUNBUFFERED": "1"})
    os.close(child)

    buf = b""

    def wait_for(marker: bytes, timeout: float = 180.0) -> bytes:
        nonlocal buf
        import time

        end = time.monotonic() + timeout
        while time.monotonic() < end:
            if marker in buf:
                return buf
            r, _, _ = select.select([main], [], [], 1.0)
            if r:
                try:
                    chunk = os.read(main, 4096)
                except OSError:
                    break
                if not chunk:
                    break
                buf += chunk
        assert marker in buf, f"missing {marker!r} in {buf[-2000:]!r}"
        return buf

    try:
        wait_for(b":) ")
        os.write(main, b"CREATE TABLE t (x Int64, s String) "
                       b"ENGINE = Memory;\n")
        wait_for(b"Ok.")
        os.write(main, b"INSERT INTO t VALUES (1, 'a'), (2, 'b;c');\n")
        wait_for(b"Ok.")
        # multi-line SELECT: continuation prompt, then the box grid
        os.write(main, b"SELECT x, s FROM t\n")
        wait_for(b":-] ")
        os.write(main, b"ORDER BY x DESC;\n")
        wait_for(b"rows in set")
        assert b"b;c" in buf              # semicolon inside string survived
        assert "┌".encode() in buf        # PrettyCompact grid
        os.write(main, b"exit\n")
        wait_for(b"Bye.")
    finally:
        os.close(main)
        proc.wait(timeout=60)
