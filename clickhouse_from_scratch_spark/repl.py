"""Interactive REPL — the reference's live client surface.

The reference's one end-to-end query path is the TCP server plus the
client read-eval-print loop (``src/Server/TCPHandler.cpp:174-346``,
``src/Client/ClientBase.cpp:322-380``): read a statement, run it,
render the result blocks. Here the "server" is :class:`ChSession` over
a local SparkSession and the default renderer is the ClickHouse
PrettyCompact box grid (``sources/formats.py:to_pretty``).

Usage::

    python -m clickhouse_from_scratch_spark.repl [--sf-dir DIR]

Prompts mirror clickhouse-client: ``:)`` for a new statement, ``:-]``
for continuation lines. A statement runs when the buffer lexes cleanly
and ends with ``;`` — so semicolons inside strings/heredocs never split
a statement. ``exit``, ``quit`` or Ctrl-D leave the loop.
"""

from __future__ import annotations

import os
import sys
import time

_EXIT_WORDS = {"exit", "quit", "q", "logout", "\\q"}

_BANNER = """ClickHouse-from-scratch on Spark — interactive mode.
Type a query ending with ';' (multi-line ok), or 'exit' to leave."""


def split_statements(buffer: str):
    """Split buffered input into complete ``;``-terminated statements.

    Returns ``(statements, rest)`` where ``rest`` is the trailing
    incomplete fragment (no terminating semicolon yet), or ``None`` if
    the buffer cannot be split yet (unterminated string/comment — keep
    reading lines, matching clickhouse-client's multiline behavior)."""
    from .plans.lexer import LexError, T, tokenize

    try:
        toks = tokenize(buffer)
    except LexError:
        return None
    stmts, prev = [], 0
    for t in toks:
        if t.kind == T.OP and t.text == ";":
            frag = buffer[prev:t.pos].strip()
            if frag:
                stmts.append(frag)
            prev = t.pos + 1
    return stmts, buffer[prev:]


def run_statement(session, sql: str, out=sys.stdout) -> None:
    """Execute one statement and render it clickhouse-client style."""
    from .sources.formats import to_pretty

    t0 = time.monotonic()
    try:
        df = session.execute(sql)
    except Exception as e:  # parse/build/execution error: report, continue
        print(f"Error: {e}", file=out)
        return
    if df is None or df.columns == ["ok"]:
        print(f"Ok.\n\nElapsed: {time.monotonic() - t0:.3f} sec.",
              file=out)
        return
    rows = df.limit(10001).collect()
    shown = min(len(rows), 10000)
    print(to_pretty(df, n=shown), file=out)
    more = " (10000 shown)" if len(rows) > 10000 else ""
    print(f"\n{shown} rows in set{more}. "
          f"Elapsed: {time.monotonic() - t0:.3f} sec.", file=out)


def repl(session, stdin=sys.stdin, out=sys.stdout) -> None:
    print(_BANNER, file=out)
    buffer = ""
    while True:
        prompt = ":) " if not buffer.strip() else ":-] "
        print(prompt, end="", file=out, flush=True)
        line = stdin.readline()
        if not line:                       # EOF / Ctrl-D
            print("Bye.", file=out)
            return
        if not buffer.strip() and line.strip().lower() in _EXIT_WORDS:
            print("Bye.", file=out)
            return
        buffer += line
        split = split_statements(buffer)
        if split is None:                  # unterminated string — keep going
            continue
        stmts, buffer = split
        for sql in stmts:
            if sql.lower() in _EXIT_WORDS:
                print("Bye.", file=out)
                return
            run_statement(session, sql, out=out)


def main(argv: list[str] | None = None) -> None:
    import argparse

    from .ddl import ChSession
    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=None,
                    help="parquet dir to pre-register as tables "
                         "(e.g. /root/testdata/sf0.001)")
    ap.add_argument("--warehouse",
                    default=os.path.join(os.getcwd(), ".chspark_warehouse"),
                    help="table data directory, kept across runs "
                         "(default: ./.chspark_warehouse)")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="chspark-repl")
    spark.sparkContext.setLogLevel("ERROR")
    session = ChSession(spark, warehouse=args.warehouse)
    if args.sf_dir:
        from .catalog import load_all
        from .ddl import TableMeta
        from .functions.typemap import spark_to_ch

        for name, df in load_all(spark, args.sf_dir).items():
            session.databases["default"][name] = TableMeta(
                name=name, database="default",
                columns=[(f.name, spark_to_ch(f.dataType))
                         for f in df.schema.fields],
                engine="MergeTree",
                path=os.path.join(args.sf_dir, f"{name}.parquet"),
                memory_df=df)
    repl(session)


if __name__ == "__main__":
    main()
